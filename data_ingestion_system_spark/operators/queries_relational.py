"""Declared queries: joins, aggregation, windows, set ops — the reference's
join/agg surface (O-16/17/21/22) plus the §2.12 gap-closers (window
functions, rollup, distinct agg, set operations, semi/anti/as-of/range
joins) that the latest-wins merge and the north-star ops need anyway.

Scale notes are given per query; the general posture: dimensions are
broadcast, fact-fact joins hash-partition on the join key, top-k never
global-sorts (TakeOrderedAndProject), and windows partition on high-
cardinality keys so no single partition exceeds executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.operators.correlate import correlate
from data_ingestion_system_spark.operators.ranks import offset_at, range_stage
from data_ingestion_system_spark.registry import register


# --------------------------------------------------------------------------
# aggregation (O-21/22 writ large)

@register("agg_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped grouped aggregation: partial (map-side) aggregation
    then one shuffle on the 2-col group key — the canonical scale-safe agg."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc), 2).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register("agg_revenue_by_nation", """
SELECT n.n_name AS nation, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def agg_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped star join: fact-fact (lineitem⋈orders) shuffles on
    orderkey; customer/nation/region are broadcast — zero shuffle for the
    dimension legs at any scale."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem
        .join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cat.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(cat.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


@register("agg_distinct", """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""")
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (§2.12 gap): Spark expands to a two-phase
    partial-distinct plan; no driver-side dedup."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register("agg_rollup", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (§2.12 gap)."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register("agg_cube", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (§2.12 gap): all 2^k grouping combinations in
    one pass — Spark expands to a single Expand + aggregation, not k
    separate scans."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


# --------------------------------------------------------------------------
# joins

@register("join_correlate_latest", """
WITH latest AS (
  SELECT *, row_number() OVER (
      PARTITION BY l_orderkey
      ORDER BY l_shipdate DESC, l_linenumber DESC, l_extendedprice DESC) AS rn
  FROM lineitem)
SELECT o.o_orderkey AS transaction_id,
       o.o_orderdate AS request_ts,
       o.o_totalprice AS request_value,
       l.l_shipdate AS response_ts,
       l.l_linenumber AS response_line,
       l.l_extendedprice AS response_value
FROM orders o
LEFT JOIN latest l ON o.o_orderkey = l.l_orderkey AND l.rn = 1
""")
def join_correlate_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-16 Q-correlate-update in batch form: orders play the request
    (api_audit) side, lineitem the response stream; latest-wins response
    attaches status fields (processQueue.ts:199-244 semantics: unmatched
    responses silently dropped, all duplicate request rows updated)."""
    cat = Catalog(spark, sf_dir)
    responses = cat.lineitem.select(
        F.col("l_orderkey"),
        F.col("l_shipdate").alias("response_ts"),
        F.col("l_linenumber").alias("response_line"),
        F.col("l_extendedprice").alias("response_value"),
    )
    requests = cat.orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderdate").alias("request_ts"),
        F.col("o_totalprice").alias("request_value"),
    )
    # (l_orderkey, l_linenumber) is NOT unique in the fixture; price joins
    # the tiebreak chain to keep the winner engine-independent
    merged = correlate(requests, responses, key="l_orderkey",
                       response_order="response_ts",
                       response_tiebreaks=["response_line", "response_value"])
    return merged.select(
        F.col("l_orderkey").alias("transaction_id"),
        "request_ts", "request_value", "response_ts", "response_line", "response_value",
    )


@register("join_enrich", """
WITH top100 AS (
  SELECT event_id, ts, user_id, event_type, value
  FROM events
  ORDER BY ts DESC NULLS LAST, event_id DESC
  LIMIT 100)
SELECT t.event_id, t.ts, t.user_id, t.event_type, t.value,
       d.text AS doc_text, d.lang AS doc_lang
FROM top100 t LEFT JOIN documents d ON t.event_id = d.doc_id
""")
def join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-17 Q-enrich: attach payload objects to the <=100 search results.

    An outer join can never broadcast its preserved side (the build side
    must be the non-preserved one), so a naive ``top100 LEFT JOIN
    payloads`` makes Spark broadcast (or shuffle) the PAYLOAD table —
    backwards at 100 TB.  Instead, two broadcast stages, both map-only
    over the big table:

    1. inner-match: payload store ⋈ broadcast(top-100 keys) — scans the
       payload table once, no shuffle, emits <=100 matched rows;
    2. left-attach: top-100 LEFT JOIN broadcast(matched) — restores the
       outer semantics from two tiny sides.
    """
    cat = Catalog(spark, sf_dir)
    top = (
        cat.events.select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.col("ts").desc_nulls_last(), F.col("event_id").desc())
        .limit(100)
    )
    docs = cat.documents.select(
        F.col("doc_id"),
        F.col("text").alias("doc_text"),
        F.col("lang").alias("doc_lang"),
    )
    matched = docs.join(
        F.broadcast(top.select(F.col("event_id").alias("doc_id"))), "doc_id"
    )
    return (
        top.join(F.broadcast(matched), top.event_id == matched.doc_id, "left")
        .select("event_id", "ts", "user_id", "event_type", "value",
                "doc_text", "doc_lang")
    )


@register("join_semi", """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
""")
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (§2.12 gap): customers with a big order."""
    cat = Catalog(spark, sf_dir)
    big = cat.orders.filter(F.col("o_totalprice") > 100000)
    return (
        cat.customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register("join_anti", """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""")
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (§2.12 gap): customers with no order above 400k."""
    cat = Catalog(spark, sf_dir)
    big = cat.orders.filter(F.col("o_totalprice") > 400000)
    return (
        cat.customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@register("join_asof", """
WITH cand AS (
  SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
SELECT event_id, ts, user_id,
       o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
FROM cand WHERE rn = 1
""")
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (§2.12 gap): each event picks the most recent order of
    the same user at-or-before its timestamp.

    Sort-merge formulation: UNION both sides tagged by type, one window
    per user ordered by time carrying the last-seen order forward
    (``last(..., ignorenulls)``), keep event rows that saw an order.
    Cost = one shuffle+sort of (events + orders) — the naive
    equi-join-with-inequality-residual materializes events x orders PAIRS
    per user before ranking (quadratic in the per-user history; at 100 TB
    a hot user with 1e6 events x 1e5 orders is 1e11 intermediate rows,
    here it's 1.1e6 sorted rows).  Tie policy: orders sort before events
    at the same timestamp (is_event 0 < 1), so at-or-BEFORE is inclusive;
    among same-date orders the max orderkey wins (ascending sort + last)."""
    cat = Catalog(spark, sf_dir)
    e = cat.events.select(
        "user_id", F.col("ts").alias("t"), F.lit(1).alias("is_event"),
        "event_id", "ts",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
    )
    o = cat.orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"), F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
        "o_orderkey", "o_orderdate",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.unionByName(o)
        .select(
            "event_id", "ts", "user_id", "is_event",
            F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
            F.last("o_orderdate", ignorenulls=True).over(w).alias("asof_orderdate"),
        )
        .filter((F.col("is_event") == 1) & F.col("asof_orderkey").isNotNull())
        .select("event_id", "ts", "user_id", "asof_orderkey", "asof_orderdate")
    )


@register("join_range", """
SELECT a.user_id, count(*) AS n_pairs
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
GROUP BY a.user_id
""")
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) self-join (§2.12 gap): pairs of events by the same
    user within one hour.

    Interval bucketing: both sides key on (user, hour-bucket), with the
    right side exploded to its bucket AND the previous one — any pair
    within 1h shares one of those keys, and each qualifying pair matches
    exactly one exploded row (the two bucket relations are disjoint), so
    no dedup is needed.  The equi-join then only materializes *adjacent*
    candidates before the residual — a plain (user) equi-join would
    evaluate the time residual over each user's full history² (200M
    comparisons at sf0.1; unbounded at 100 TB), bucketing bounds it by
    the true 2-hour neighborhood."""
    cat = Catalog(spark, sf_dir)
    hour_bucket = (F.unix_micros(F.col("ts").cast("timestamp"))
                   / F.lit(3_600_000_000)).cast("long")
    a = cat.events.select(
        F.col("user_id"), F.col("ts").alias("a_ts"),
        hour_bucket.alias("bkt"),
    )
    b = cat.events.select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
        F.explode(F.array(hour_bucket, hour_bucket - 1)).alias("bkt"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (a["bkt"] == b["bkt"])
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


@register("agg_forecast_revenue", """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def agg_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6 shape: scalar aggregate under range predicates — every
    filter reaches the parquet scan (range pushdown prunes row groups by
    min/max stats), then a single global sum with map-side partials."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"))
    )


@register("join_semi_dated", """
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
""")
def join_semi_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4 shape: date-ranged semi-join (orders with at least one
    lineitem shipped >90 days after ordering) + grouped count.  The
    semi-join carries the correlated time residual and never
    materializes matching lineitems — each order emits at most once."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    return (
        orders.join(
            cat.lineitem,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register("agg_topk_orders", """
SELECT l.l_orderkey AS orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       o.o_orderdate AS orderdate
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 150000
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, orderkey
LIMIT 10
""")
def agg_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: join -> grouped agg -> top-10 by revenue.  The
    orderBy+limit above an aggregation still fuses into
    TakeOrderedAndProject: each partition's aggregated output keeps a
    10-row heap, the driver merges — no global sort of the aggregate."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem
        .join(cat.orders.filter(F.col("o_totalprice") > 150000),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_orderkey").alias("orderkey"),
                 F.col("o_orderdate").alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select("orderkey", "revenue", "orderdate")
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# scans + event-time windows + containment + approx aggregates

@register("scan_full", """
SELECT event_id, ts, user_id, event_type, value, props FROM events
""")
def scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-15 full-table scan (``verify-db.ts:46``) — no filter, no limit;
    the one query where reading everything is the point."""
    cat = Catalog(spark, sf_dir)
    return cat.events.select("event_id", "ts", "user_id", "event_type",
                             "value", "props")


@register("agg_time_window", """
SELECT date_trunc('hour', ts) AS w_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""")
def agg_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation — the batch form of the
    streaming windowed agg (same ``window()`` expression runs under
    ``readStream`` + watermark in streaming/windowed.py).  One shuffle on
    (window, type); map-side partial counts."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").cast("timestamp_ntz").alias("w_start"),
                "event_type", "n", "sum_value")
    )


@register("agg_percent_of_total", """
WITH s AS (
  SELECT o_orderstatus, sum(o_totalprice) AS status_rev
  FROM orders GROUP BY o_orderstatus)
SELECT o_orderstatus,
       round(status_rev, 2) AS status_rev,
       round(status_rev / sum(status_rev) OVER (), 6) AS share
FROM s
""")
def agg_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio-to-report): share of revenue per order
    status.  The grand total is attached as a broadcast scalar aggregate
    (the bounded-theta pattern the linter blesses) rather than an
    un-partitioned window over the aggregated rows: same values, but no
    single-task WindowExec anywhere in the plan — the r3 tree-walking
    linter correctly flags even UNORDERED global windows, which the r2
    string heuristic missed on this query.  The fact scan still
    partial-aggregates map-side; the cross join is 1-row × #statuses."""
    cat = Catalog(spark, sf_dir)
    s = cat.orders.groupBy("o_orderstatus").agg(
        F.sum("o_totalprice").alias("raw_rev"))
    total = s.agg(F.sum("raw_rev").alias("total_rev"))
    return s.crossJoin(F.broadcast(total)).select(
        "o_orderstatus",
        F.round(F.col("raw_rev"), 2).alias("status_rev"),
        F.round(F.col("raw_rev") / F.col("total_rev"), 6).alias("share"),
    )


@register("agg_cohort_retention", """
WITH first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY user_id),
days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
SELECT f.cohort, datediff('day', f.cohort, days.d) AS age_days,
       count(*) AS active_users
FROM days JOIN first_seen f ON days.user_id = f.user_id
GROUP BY f.cohort, age_days
""")
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    by days-since-cohort on each later active day.  first-seen is one
    grouped min; the activity table dedups to (user, day); both shuffle
    on user_id so the join is co-partitioned, and the final matrix is
    cohorts × ages — tiny at any scale."""
    cat = Catalog(spark, sf_dir)
    first_seen = cat.events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort"))
    days = cat.events.select(
        "user_id", F.col("ts").cast("date").alias("d")).distinct()
    return (
        days.join(first_seen, "user_id")
        .groupBy("cohort",
                 F.datediff(F.col("d"), F.col("cohort")).alias("age_days"))
        .agg(F.count("*").alias("active_users"))
    )


@register("agg_event_transitions", """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events)
SELECT prev, event_type AS next, count(*) AS n
FROM seq WHERE prev IS NOT NULL
GROUP BY prev, next
ORDER BY n DESC, prev, next
LIMIT 15
""")
def agg_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: top event-type transition pairs (first-order Markov
    counts).  One lag window per user (deterministic (ts, event_id)
    ordering), then a grouped count over a 25-value key space — the
    window partitions on high-cardinality user_id, so no partition ever
    holds more than one user's history."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = cat.events.select(
        "event_type", F.lag("event_type").over(w).alias("prev"))
    return (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "prev", "next")
        .limit(15)
    )


@register("agg_equidepth_histogram", """
WITH b AS (
  SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
  FROM events)
SELECT bucket, count(*) AS n,
       round(min(value), 4) AS lo, round(max(value), 4) AS hi
FROM b GROUP BY bucket
""")
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram with EXACT ntile(10) semantics,
    computed distributed (no global window anywhere in the plan — r2's
    un-partitioned ntile was the linter's only allowlisted exception;
    this form deleted it).

    TeraSort-style global ranking (operators/ranks.py::range_stage,
    shared with agg_mann_whitney / agg_ks_test / agg_lorenz_gini):

    1. ``percentile_approx`` range boundaries (driver literals, one
       value-column scan) — they steer LOAD BALANCE only; correctness
       never depends on where the cuts land because pid assignment is
       monotone in the sort key.
    2. per-range counts -> prefix-sum offsets (driver literals, <= 64
       longs — the blessed codebook pattern, not a data collect).
    3. ``row_number`` over (PARTITION BY pid ORDER BY value, event_id)
       + offset = exact global rank; every window task holds ~N/nparts.
    4. bucket from rank by ntile's own fill rule (first N%10 buckets get
       one extra row), then the usual count/min/max rollup.

    Three value-column scans replace one single-task sort: at 100 TB the
    scans are pruned-column map passes while the r2 form serialized the
    whole table through one core.  Ties on ``value`` stay within one pid
    (assignment ignores the tiebreak), so the (value, event_id) total
    order — and with it bit-parity with the DuckDB ntile oracle — is
    preserved across partitions.  events.value is non-null by
    construction; a null routes to pid 0, matching Spark's nulls-first
    ASC order."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events.select("value", "event_id")

    staged, offs, totals = range_stage(spark, ev, "value")
    n_total = totals["__rows__"]
    off = offset_at(offs["__rows__"])

    w = Window.partitionBy("pid").orderBy("value", "event_id")
    rank = (F.row_number().over(w) + off).alias("rank")

    base, rem = divmod(n_total, 10)
    head = rem * (base + 1)  # rows covered by the rem wider buckets
    r0 = F.col("rank") - 1
    if base == 0:  # degenerate N < 10: ntile gives one row per bucket
        bucket = F.col("rank")
    else:
        bucket = (
            F.when(F.col("rank") <= head, F.floor(r0 / (base + 1)) + 1)
            .otherwise(rem + F.floor((r0 - head) / base) + 1)
        )
    b = staged.select("value", rank).select(
        "value", bucket.cast("int").alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


@register("agg_retention_dod", """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
SELECT a.d AS day,
       count(*) AS returning_users
FROM days a
JOIN days b ON a.user_id = b.user_id AND b.d = a.d - 1
GROUP BY a.d
""")
def agg_retention_dod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention: users active on a day who were also
    active the day before.  The (user, day) dedup collapses raw events
    by ~events-per-user-day in one map-combined shuffle; the self-join
    then runs on that much smaller activity table, co-partitioned on
    user_id.  The same shape gives N-day retention by changing the
    offset, and cohort retention by joining to a first-seen table."""
    cat = Catalog(spark, sf_dir)
    days = cat.events.select(
        "user_id", F.col("ts").cast("date").alias("d")).distinct()
    a = days.select(F.col("user_id").alias("u"), F.col("d").alias("day"))
    b = days.select(F.col("user_id").alias("u2"), F.col("d").alias("d_prev"))
    return (
        a.join(b, (F.col("u") == F.col("u2"))
               & (F.col("d_prev") == F.date_sub(F.col("day"), 1)))
        .groupBy("day").agg(F.count("*").alias("returning_users"))
    )


@register("agg_funnel", """
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id)
SELECT count(*) AS n_users,
       count(t_view) AS n_view,
       count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
       count(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
         AS n_full_funnel
FROM f
""")
def agg_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-funnel analysis (view -> click -> purchase ordered by
    first occurrence): conditional-min aggregation collapses each user's
    event history to three timestamps in ONE map-combined shuffle on
    user_id, and the funnel ordering is then row-local — the scale-safe
    alternative to per-user event-sequence windows (no per-user sort,
    state is three timestamps per user regardless of history length)."""
    cat = Catalog(spark, sf_dir)
    t = lambda et: F.min(  # noqa: E731
        F.when(F.col("event_type") == et, F.col("ts")))
    f = cat.events.groupBy("user_id").agg(
        t("view").alias("t_view"),
        t("click").alias("t_click"),
        t("purchase").alias("t_purchase"))
    return f.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
        .alias("n_view_click"),
        F.count(F.when((F.col("t_click") > F.col("t_view"))
                       & (F.col("t_purchase") > F.col("t_click")), 1))
        .alias("n_full_funnel"),
    )


@register("agg_zscore_by_user", """
SELECT event_id, user_id,
       round((value - avg(value) OVER (PARTITION BY user_id))
             / stddev_samp(value) OVER (PARTITION BY user_id), 4) + 0.0 AS zscore
FROM events
""")
def agg_zscore_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization (z-score of value within each user): two
    windowed aggregates over one user partition — a single shuffle, no
    pandas."""
    from data_ingestion_system_spark.functions.grouped import zscore_builtin

    cat = Catalog(spark, sf_dir)
    return zscore_builtin(cat.events)


@register("agg_resample_ffill", """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events),
users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM users, bounds),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, avg(value) AS v
  FROM events WHERE user_id < 20 GROUP BY 1, 2)
SELECT g.user_id, g.bucket,
       round(last_value(h.v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_ffill
FROM grid g LEFT JOIN hourly h USING (user_id, bucket)
""")
def agg_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward-fill: a dense per-user hourly grid
    (empty buckets included), each bucket carrying the last observed
    hourly mean.  The grid is generated executor-side (per-user
    sequence+explode off a broadcast 1-row bounds agg — no driver loop),
    the hourly means are one map-combined shuffle, and the fill is one
    last-non-null running window per user.  Leading buckets before a
    user's first observation stay NULL by design.  At scale the grid is
    O(users × buckets) rows but never materializes wider than the window
    partition (one user's timeline)."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    sub = ev.filter(F.col("user_id") < 20)
    grid = (
        sub.select("user_id").distinct()
        .join(F.broadcast(bounds))
        .select("user_id", F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket"))
    )
    hourly = (
        sub.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.avg("value").alias("v"))
    )
    w = (Window.partitionBy("user_id").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        grid.join(hourly, ["user_id", "bucket"], "left")
        .select("user_id",
                F.col("bucket").cast("timestamp_ntz").alias("bucket"),
                F.round(F.last("v", ignorenulls=True).over(w), 4)
                .alias("value_ffill"))
    )


@register("containment_match", """
SELECT doc_id,
       len(list_filter(['error', 'click', 'purchase'],
                       w -> contains(lower(text), w))) > 0 AS has_marker
FROM documents
""")
def containment_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-18 containment match: the reference's ``key.includes(name)``
    nested-loop over an in-memory array (``audit.middleware.ts:52-57``) as
    an ``exists()`` higher-order predicate — evaluated per row inside
    codegen, no join, no shuffle."""
    cat = Catalog(spark, sf_dir)
    markers = F.array(F.lit("error"), F.lit("click"), F.lit("purchase"))
    return cat.documents.select(
        "doc_id",
        F.exists(markers, lambda w: F.contains(F.lower(F.col("text")), w))
        .alias("has_marker"),
    )


@register("agg_promo_revenue", """
SELECT round(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
""")
def agg_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 shape: lineitem ⋈ part (dimension broadcast, zero
    shuffle for the join) with a conditional-revenue ratio — prefix LIKE
    stays JVM-side as StartsWith, pushable to the dictionary."""
    cat = Catalog(spark, sf_dir)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(0.0)
    return (
        cat.lineitem
        .join(F.broadcast(cat.part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.round(F.lit(100.0) * F.sum(promo) / F.sum(disc), 4)
             .alias("promo_pct"))
    )


@register("agg_supplier_balance", """
SELECT n.n_name AS nation,
       count(*) AS n_suppliers,
       round(sum(s.s_acctbal), 2) AS total_balance,
       round(max(s.s_acctbal), 2) AS best_balance
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
HAVING count(*) > 1
""")
def agg_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier rollup by nation with a HAVING filter (post-aggregation
    predicate) — dimension⋈dimension broadcast join."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.supplier
        .join(F.broadcast(cat.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_suppliers"),
             F.round(F.sum("s_acctbal"), 2).alias("total_balance"),
             F.round(F.max("s_acctbal"), 2).alias("best_balance"))
        .filter(F.col("n_suppliers") > 1)
    )


@register("agg_pivot_event_types", """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'view') AS view,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'error') AS error
FROM events
GROUP BY user_id
""")
def agg_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot / cross-tab: per-user counts by event type.  Explicit pivot
    values keep it a single-pass aggregation (without them Spark runs an
    extra distinct-values job first — never do that at 100 TB)."""
    cat = Catalog(spark, sf_dir)
    kinds = ["click", "view", "purchase", "error"]
    return (
        cat.events.groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, kinds)
    )


@register("agg_session_window", """
WITH d AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM d)
SELECT user_id, min(ts) AS s_start, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid
""")
def agg_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (§2.12 gap): per-user activity sessions closed by a
    30-minute silence gap — ``F.session_window`` merges overlapping
    [ts, ts+gap) intervals in one pass (same operator serves streaming
    with a watermark).  The oracle derives identical sessions by the
    classic gap-flag + running-sum sessionization."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select("user_id",
                F.col("session_window.start").cast("timestamp_ntz").alias("s_start"),
                "n_events", "sum_value")
    )


@register("agg_approx_distinct", """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       count(DISTINCT l_suppkey) AS exact_supps,
       TRUE AS parts_ok, TRUE AS supps_ok
FROM lineitem GROUP BY l_returnflag
""")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct (HyperLogLog++, 5% rsd): the 100 TB answer to
    COUNT(DISTINCT) — sketches merge associatively, so the shuffle moves
    KB-sized sketches instead of every distinct value.

    Bounds-style oracle (the raw estimate is engine-specific, so it can't
    be hash-compared): the query computes the exact counts alongside the
    sketch and emits ``*_ok = |approx - exact| / exact <= 3*rsd``; the
    oracle recomputes the exact counts in DuckDB and pins the booleans
    TRUE.  A hash match therefore proves BOTH that Spark's exact side
    agrees with DuckDB AND that the sketch estimate lands within its
    published 3-sigma error of it.  The exact twin exists only for this
    verification — the production posture at 100 TB is estimate-only
    (drop the countDistinct columns and the shuffle carries sketches,
    not values)."""
    cat = Catalog(spark, sf_dir)
    rsd = 0.05

    def ok(approx, exact):
        return (F.abs(approx - exact) <= 3 * rsd * exact)

    agg = cat.lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=rsd).alias("ap"),
        F.approx_count_distinct("l_suppkey", rsd=rsd).alias("asu"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_suppkey").alias("exact_supps"),
    )
    return agg.select(
        "l_returnflag", "exact_parts", "exact_supps",
        ok(F.col("ap"), F.col("exact_parts")).alias("parts_ok"),
        ok(F.col("asu"), F.col("exact_supps")).alias("supps_ok"),
    )


def approx_distinct_prod_estimates(cat: Catalog) -> DataFrame:
    """THE production plan: estimate-only, no exact count-distinct legs —
    what a 100 TB deployment actually runs.  Its shuffle payload is
    KB-sized HLL registers with map-side partial merge; no Expand, no
    distinct-keyed aggregate (plan shape pinned by
    tests/test_sketch_prod_twins.py)."""
    return cat.lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", rsd=0.05).alias("approx_supps"),
    )


@register("agg_approx_distinct_prod", """
SELECT l_returnflag, TRUE AS parts_ok, TRUE AS supps_ok
FROM (SELECT DISTINCT l_returnflag FROM lineitem) t
""")
def agg_approx_distinct_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable wrapper around the PRODUCTION estimate-only plan
    (`approx_distinct_prod_estimates`).

    The raw estimates are engine-specific, so they can't be
    hash-compared cross-engine; what CAN be (VERDICT r4 #5, the
    text_cms_topk pattern) is the bound: join the untouched production
    subtree to a SEPARATE exact aggregation and emit
    ``*_ok = |approx - exact| <= 3*rsd*exact`` booleans the DuckDB
    oracle pins TRUE over the same group keys.  Unlike the verification
    twin `agg_approx_distinct` — whose single groupBy mixes sketch and
    exact legs, forcing the Expand lowering onto the WHOLE aggregate —
    the production subtree here keeps its own sketch-only shuffle and
    the exact legs ride a separate subtree that exists only for
    verification; production deployments select the estimates and drop
    the join.  Plan shape of the production subtree pinned by
    tests/test_sketch_prod_twins.py."""
    cat = Catalog(spark, sf_dir)
    rsd = 0.05
    est = approx_distinct_prod_estimates(cat)
    exact = cat.lineitem.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_suppkey").alias("exact_supps"))

    def ok(approx, exact_col):
        return (F.abs(approx - exact_col) <= 3 * rsd * exact_col)

    return est.join(exact, "l_returnflag").select(
        "l_returnflag",
        ok(F.col("approx_parts"), F.col("exact_parts")).alias("parts_ok"),
        ok(F.col("approx_supps"), F.col("exact_supps")).alias("supps_ok"),
    )


# --------------------------------------------------------------------------
# window functions (§2.12 gap)

@register("window_topk_per_group", """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rnk
  FROM orders)
SELECT o_custkey, o_orderkey, o_totalprice, rnk
FROM ranked WHERE rnk <= 3
""")
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the distributed top-k-per-group pattern
    (one shuffle on the partition key; heap-free rank within partition)."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").desc())
    return (
        cat.orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@register("window_seasonal_decompose", """
WITH y AS (
  SELECT event_type, date_trunc('hour', ts) AS h, avg(value) AS y
  FROM events GROUP BY 1, 2),
t AS (
  SELECT event_type, h, y,
         avg(y) OVER (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend
  FROM y),
s AS (
  SELECT event_type, h, y, trend,
         avg(y - trend) OVER (PARTITION BY event_type,
                              extract(hour FROM h)) AS seasonal
  FROM t)
SELECT event_type, h,
       floor(y * 10000 + 0.5 + 1e-7) / 10000.0 AS y,
       floor(trend * 10000 + 0.5 + 1e-7) / 10000.0 AS trend,
       floor(seasonal * 10000 + 0.5 + 1e-7) / 10000.0 AS seasonal,
       floor((y - trend - seasonal) * 10000 + 0.5 + 1e-7) / 10000.0
         AS residual
FROM s
""")
def window_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of each event-type's hourly value
    series — classical STL reduced to its distributable core: trend via
    a centered 25-hour moving average, seasonality as the mean
    detrended value per hour-of-day, residual as what neither explains.
    The residual column is the pipeline-monitoring signal (rate/latency
    anomalies pop once the daily rhythm is subtracted); trend feeds
    capacity planning.

    Scale shape: the raw events collapse FIRST to one row per
    (event_type, hour) — a single groupBy shuffle over the fact table —
    and every window after that runs on the tiny aggregated relation,
    partitioned by event_type (the parallel unit), never over raw
    events and never global.  Hours with no events are simply absent
    (gap-filling is agg_resample_ffill's job).

    Determinism: intermediates stay RAW double, and outputs quantize
    with an epsilon-nudged half-up floor — floor(x*1e4 + 0.5 + 1e-7) —
    NOT round().  The 2-dp source values make frame averages land
    EXACTLY on decimal halves (e.g. 25-hour trend = 50.33295), where
    Spark's round (decimal-string HALF_UP) and DuckDB's (binary-value)
    disagree even on identical doubles; the 1e-7 nudge moves every such
    special point safely off the floor threshold, whose own unstable
    set (x ~ (k - 0.5 - 1e-7)/1e4) is one no aggregate of decimal data
    lands on."""
    cat = Catalog(spark, sf_dir)

    def q4(c):
        return F.floor(c * 10000 + 0.5 + 1e-7) / 10000.0

    y = (cat.events
         .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
         .agg(F.avg("value").alias("y")))
    w_ma = (Window.partitionBy("event_type").orderBy("h")
            .rowsBetween(-12, 12))
    t = y.withColumn("trend", F.avg("y").over(w_ma))
    w_season = Window.partitionBy("event_type", F.hour("h"))
    s = t.withColumn(
        "seasonal", F.avg(F.col("y") - F.col("trend")).over(w_season))
    return s.select(
        "event_type", "h",
        q4(F.col("y")).alias("y"),
        q4(F.col("trend")).alias("trend"),
        q4(F.col("seasonal")).alias("seasonal"),
        q4(F.col("y") - F.col("trend") - F.col("seasonal"))
        .alias("residual"))


@register("window_running", """
SELECT event_id, user_id, ts,
       round(sum(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_value,
       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_event_type
FROM events
""")
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag per user over event time (analytic frame +
    offset window in one pass)."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return cat.events.select(
        "event_id", "user_id", "ts",
        F.round(F.sum("value").over(frame), 2).alias("running_value"),
        F.lag("event_type").over(w).alias("prev_event_type"),
    )


# --------------------------------------------------------------------------
# set operations (§2.12 gap)

@register("set_ops", """
SELECT user_id, 'both' AS bucket FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error') t
UNION ALL
SELECT user_id, 'purchase_only' AS bucket FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error') t
""")
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one result: purchase-users split
    by whether they also errored."""
    cat = Catalog(spark, sf_dir)
    purchase = cat.events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    error = cat.events.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = purchase.intersect(error).withColumn("bucket", F.lit("both"))
    only = purchase.exceptAll(error).withColumn("bucket", F.lit("purchase_only"))
    return both.unionAll(only)


@register("agg_group_percentiles", """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       count(*) AS n
FROM events GROUP BY event_type
""")
def agg_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (linear interpolation — bit-identical
    formula to DuckDB's quantile_cont).  Exact percentile sorts within
    the group: fine per event_type; at 100 TB switch callers to the
    bench_stats query's percentile_approx sketch, which merges partials
    map-side."""
    cat = Catalog(spark, sf_dir)
    return cat.events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.count("*").alias("n"),
    )


@register("window_range_frame", """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)
           AS hour_sum
FROM events
""")
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window per row (RANGE frame): each event's sum
    over its trailing hour.  Ordering key is integer epoch-MICROseconds on
    both engines — second-truncation would move frame boundaries and
    float epochs drift.  One shuffle on user_id, one sort per partition."""
    cat = Catalog(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (Window.partitionBy("user_id").orderBy(us)
         .rangeBetween(-3_600_000_000, Window.currentRow))
    return cat.events.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 2).alias("hour_sum"),
    )


@register("agg_market_share", """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n_name = 'NATION_7'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY o_year
""")
def agg_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped conditional-aggregation ratio (one nation's share
    of revenue per order-year).  Supplier and nation legs broadcast; the
    conditional numerator folds into the same single-shuffle grouped agg
    as the denominator — no second pass, no join of two aggregates."""
    cat = Catalog(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cat.lineitem
        .join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cat.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cat.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(
            F.sum(F.when(F.col("n_name") == "NATION_7", rev).otherwise(0.0)) / F.sum(rev),
            4).alias("mkt_share"))
    )


@register("join_full_outer", """
WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY nk),
     s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY nk)
SELECT coalesce(c.nk, s.nk) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""")
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (§2.12 set-op gap): per-nation customer vs supplier
    counts, null-completed on both sides.  Outer joins can never broadcast
    their preserved sides, so both pre-aggregated (tiny) inputs shuffle on
    the join key — pre-aggregating BEFORE the outer join is the scale move:
    the shuffle carries one row per nation, not one per customer."""
    cat = Catalog(spark, sf_dir)
    c = cat.customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").alias("n_cust"))
    s = cat.supplier.groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        F.count("*").alias("n_supp"))
    return (
        c.join(s, c.nk == s.s_nk, "full_outer")
        .select(
            F.coalesce(F.col("nk"), F.col("s_nk")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
    )


@register("agg_volume_shipping", """
SELECT supp_nation, cust_nation, l_year,
       sum(CAST(round(volume * 100.0) AS BIGINT)) / 100.0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l.l_shipdate) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_13')
      OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_3'))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
GROUP BY supp_nation, cust_nation, l_year
""")
def agg_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped bilateral trade volume: revenue between two nations
    by shipping direction and year.  The only fact-fact shuffle is
    lineitem⋈orders on orderkey; supplier, customer and both nation legs
    broadcast.  The disjunctive nation-pair predicate can't be applied
    until both legs are attached, but each leg's IN-(2 nations) envelope
    is implied onto the broadcast dimension inputs, so the giant fact scan
    still drops ~23/25 of suppliers' rows at the first (map-side) join.
    Revenue sums exact integer cents (order-independent across any
    partitioning — see agg_returned_customers)."""
    cat = Catalog(spark, sf_dir)
    pair = ("NATION_3", "NATION_13")
    li = cat.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
    n1 = cat.nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = cat.nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    supp = cat.supplier.join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
    cust = cat.customer.join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
    ).cast("bigint")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(cents) / 100.0).alias("revenue"))
    )


@register("agg_product_profit", """
SELECT nation, o_year,
       sum(CAST(round(profit * 100.0) AS BIGINT)) / 100.0 AS profit
FROM (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount)
           - p.p_retailprice * 0.6 * l.l_quantity AS profit
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE p.p_type = 'PROMO')
GROUP BY nation, o_year
""")
def agg_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped product-type profit by supplier nation and order
    year.  (The fixture has no partsupp table, so supply cost is modeled
    as 60% of p_retailprice — the aggregation topology is identical to
    Q9: a selective part filter, two broadcast dimension legs, one
    fact-fact shuffle on orderkey, then a small grouped sum.)  The
    p_type filter prunes at the part scan and, via the broadcast hash
    join, drops non-PROMO lineitem rows before the orders shuffle — the
    order of the two joins (selective broadcast first, shuffle second)
    is the scale-critical choice AQE preserves."""
    cat = Catalog(spark, sf_dir)
    part = cat.part.filter(F.col("p_type") == "PROMO")
    profit_cents = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))
         - F.col("p_retailprice") * 0.6 * F.col("l_quantity")) * 100.0
    ).cast("bigint")
    return (
        cat.lineitem
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(cat.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cat.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(profit_cents) / 100.0).alias("profit"))
    )


@register("agg_hll_sketch", """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS within_bounds
FROM events GROUP BY event_type
UNION ALL
SELECT '__all__' AS event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS within_bounds
FROM events
""")
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches (the 100 TB COUNT-DISTINCT posture
    beyond approx_count_distinct): ``hll_sketch_agg`` materializes a
    REUSABLE per-group sketch, and ``hll_union_agg`` merges sketches
    without touching the raw data again — the building block for
    incremental distinct-user rollups (daily sketches → monthly union)
    where re-scanning 100 TB per rollup is not an option.  Merge-vs-direct
    equivalence is pinned in tests/test_relational_extra.py.

    Bounds-style oracle (sketch binary state + estimate are
    engine-specific): alongside each sketch estimate the query computes
    the exact distinct and emits ``within_bounds = |est - exact| / exact
    <= 0.03`` (lgK=14 → rsd ≈ 1.04/√2¹⁴ ≈ 0.81%; 3σ rounded up); the
    oracle recomputes the exact counts and pins the boolean TRUE, so a
    hash match proves the estimate sits within published error of a
    DuckDB-verified exact — including for the union-of-sketches global
    row, which checks the MERGE path's accuracy, not just per-group.
    The exact twins are verification-only; production drops them."""
    cat = Catalog(spark, sf_dir)
    tol = 0.03

    def within(est, exact):
        return (F.abs(est - exact) <= tol * exact)

    per_type = cat.events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count_distinct("user_id").alias("exact_users"))
    est = per_type.select(
        "event_type", "exact_users",
        within(F.hll_sketch_estimate("sk"),
               F.col("exact_users")).alias("within_bounds"))
    # global row: union of the per-type sketches (the merge path) checked
    # against a direct global exact distinct — a scalar-aggregate cross
    # join, bounded on both sides (1 row x 1 row)
    union_est = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    global_exact = cat.events.agg(
        F.count_distinct("user_id").alias("exact_users"))
    union_all = union_est.crossJoin(global_exact).select(
        F.lit("__all__").alias("event_type"), "exact_users",
        within(F.col("est"), F.col("exact_users")).alias("within_bounds"))
    return est.unionByName(union_all)


def hll_sketch_prod_estimates(cat: Catalog) -> DataFrame:
    """THE production plan: per-type estimates plus the
    union-of-sketches global row, WITHOUT exact count-distinct legs —
    daily-sketch/monthly-union rollups never rescan raw data, and this
    plan's shuffles carry only lgK=14 sketch registers.  Plan shape
    pinned by tests/test_sketch_prod_twins.py."""
    per_type = cat.events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    est = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("approx_users"))
    union_all = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    ).select(F.lit("__all__").alias("event_type"), "approx_users")
    return est.unionByName(union_all)


@register("agg_hll_sketch_prod", """
SELECT event_type, TRUE AS within_bounds
FROM (SELECT DISTINCT event_type FROM events
      UNION ALL SELECT '__all__') t
""")
def agg_hll_sketch_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable wrapper around the PRODUCTION sketch-rollup plan
    (`hll_sketch_prod_estimates`).

    Same evidence contract as `agg_approx_distinct_prod` (VERDICT r4
    #5): estimates are engine-specific, bounds are not — the untouched
    production subtree joins a SEPARATE exact-distinct aggregation
    (verification-only; production selects the estimates and drops it)
    and emits ``within_bounds = |est - exact| <= 0.03 * exact``
    (lgK=14 → rsd ≈ 0.81%; 3σ rounded up), which the oracle pins TRUE
    over the per-type keys plus the '__all__' merge row — so a hash
    match proves both the per-group and the union-of-sketches MERGE
    path accuracy against a DuckDB-verified exact."""
    cat = Catalog(spark, sf_dir)
    est = hll_sketch_prod_estimates(cat)
    per_type_exact = cat.events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"))
    global_exact = cat.events.agg(
        F.count_distinct("user_id").alias("exact_users")).select(
        F.lit("__all__").alias("event_type"), "exact_users")
    exact = per_type_exact.unionByName(global_exact)
    return est.join(exact, "event_type").select(
        "event_type",
        (F.abs(F.col("approx_users") - F.col("exact_users"))
         <= 0.03 * F.col("exact_users")).alias("within_bounds"))


@register("join_skew_salted", """
SELECT c.c_nationkey AS nation_key, c.c_mktsegment AS mktsegment,
       count(*) AS n_events,
       sum(CAST(round(e.value * 100.0) AS BIGINT)) / 100.0 AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""")
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact-to-dimension join via explicit salting
    (operators/skew.py::salted_join).  At 100 TB a handful of hot
    user_ids (bots, test accounts) can own a double-digit fraction of an
    events table; a plain hash join puts each hot key in ONE reducer and
    the stage runs at the speed of its worst partition.  Salting spreads
    every probe row over `salt` sub-keys deterministically (hash of the
    full tuple, retry-idempotent) and replicates the small build side
    `salt` times, so no (key, salt) partition can exceed ~1/salt of a hot
    key.  The RESULT is identical to the plain join by construction —
    which is exactly what the oracle checks — only the partitioning
    changes; AQE skew-split remains the runtime backstop for sort-merge
    plans (session.py).  Value sums exact integer cents so the total is
    order-independent across the salted partitioning."""
    from data_ingestion_system_spark.operators.skew import salted_join

    cat = Catalog(spark, sf_dir)
    probe = cat.events.select("user_id", "value")
    build = cat.customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_nationkey").alias("nation_key"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    cents = F.round(F.col("value") * 100.0).cast("bigint")
    return (
        salted_join(probe, build, "user_id", salt=8)
        .groupBy("nation_key", "mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents) / 100.0).alias("total_value"),
        )
    )


@register("agg_decayed_score", """
WITH by_day AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         sum(value) AS v, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
mx AS (SELECT max(d) AS anchor FROM by_day)
SELECT b.user_id,
       round(sum(b.v * power(0.95, date_diff('day', b.d, mx.anchor))), 4)
         AS decayed_score,
       CAST(sum(b.n) AS BIGINT) AS n_events
FROM by_day b, mx
GROUP BY b.user_id
""")
def agg_decayed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user (half-life
    ~13.5 days at decay 0.95/day) — the standard recency-weighted
    feature behind "active user" ranking.  Two-stage on purpose: values
    pre-aggregate per (user, day) FIRST (one map-combined shuffle over
    the raw events), so the pow() weight is computed once per user-day
    — at 100 TB that's |users| x |days| weightings instead of one per
    event, and the second aggregate runs over user-day-sized, not
    event-sized, data.  The decay anchor is the corpus max date
    (derived from the same pre-aggregate, broadcast back as one row),
    keeping the result a pure function of the data — no wall-clock
    dependence.  The oracle mirrors the two-stage sum structure term
    for term so float summation order stays comparable; the final
    4 dp round absorbs sub-ulp engine differences in pow()."""
    cat = Catalog(spark, sf_dir)
    by_day = cat.events.groupBy(
        "user_id", F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("v"), F.count(F.lit(1)).alias("n"))
    anchor = by_day.agg(F.max("d").alias("anchor"))
    w = F.pow(F.lit(0.95), F.datediff(F.col("anchor"), F.col("d")))
    return (
        by_day.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("v") * w), 4).alias("decayed_score"),
            F.sum("n").alias("n_events"),
        )
    )


@register("join_asof_tolerance", """
WITH cand AS (
  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e
  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
       AND o.o_orderdate >= e.ts - INTERVAL 8400 DAY)
SELECT e.event_id, e.ts, e.user_id,
       c.o_orderkey AS asof_orderkey, c.o_orderdate AS asof_orderdate
FROM events e
LEFT JOIN cand c ON c.event_id = e.event_id AND c.rn = 1
""")
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT as-of join with a staleness tolerance: each event gets its
    user's most recent at-or-before order ONLY if that order is within
    the staleness bound — the point-in-time rule of feature-store
    joins, where a
    stale feature is worse than a missing one (training-serving skew).
    Same linear union+window formulation as join_asof (one shuffle+sort
    of events+orders, never the quadratic pair materialization); the
    tolerance is a post-carry null-out, which is sufficient because the
    carried match is the LATEST candidate — any earlier order is staler
    still.  Left semantics keep every event row, matched or not.  The
    8400-day bound is fixture calibration (TPC-H order dates sit ~23
    years before the synthetic event timestamps; the median gap is
    ~8371 days, so the bound splits the corpus into fresh and stale) —
    the tolerance is the knob, the plan shape is the point."""
    cat = Catalog(spark, sf_dir)
    e = cat.events.select(
        "user_id", F.col("ts").alias("t"), F.lit(1).alias("is_event"),
        "event_id", "ts",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
    )
    o = cat.orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"), F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
        "o_orderkey", "o_orderdate",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        e.unionByName(o)
        .select(
            "event_id", "ts", "user_id", "is_event",
            # the struct must be NULL on event rows — struct(NULL, NULL)
            # is a non-null value that would satisfy ignorenulls
            F.last(
                F.when(F.col("is_event") == 0,
                       F.struct("o_orderkey", "o_orderdate")),
                ignorenulls=True,
            ).over(w).alias("m"),
        )
        .filter(F.col("is_event") == 1)
    )
    fresh = F.when(
        F.col("m.o_orderdate") >= F.col("ts") - F.expr("INTERVAL 8400 DAYS"),
        F.col("m"))
    return carried.select(
        "event_id", "ts", "user_id",
        fresh["o_orderkey"].alias("asof_orderkey"),
        fresh["o_orderdate"].alias("asof_orderdate"),
    )


@register("agg_sessionize", """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END
           AS new_s
  FROM ordered),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
grains AS (
  SELECT user_id, sid, count(*) AS n,
         CAST(floor(epoch(max(ts)) - epoch(min(ts))) AS BIGINT) AS dur_s
  FROM sess GROUP BY 1, 2)
SELECT user_id,
       count(*) AS n_sessions,
       CAST(sum(n) AS BIGINT) AS n_events,
       round(avg(n), 4) AS avg_events_per_session,
       CAST(max(dur_s) AS BIGINT) AS max_session_s
FROM grains GROUP BY user_id
""")
def agg_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-gap sessionization (per-user session STATISTICS, complementing
    agg_session_window's per-window grain): a session breaks wherever
    the gap to the previous event exceeds 30 minutes; session ids are
    the running count of breaks.  Two windows + two aggregations, all
    partitioned on user_id — one shuffle of the events, then per-user
    sorted passes; no self-join, no interval explosion.  The window
    order tie-breaks on event_id so duplicate timestamps sessionize
    identically on any engine; durations are whole elapsed seconds
    (timestampdiff / floored epoch difference — integer on both
    engines)."""
    cat = Catalog(spark, sf_dir)
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = cat.events.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w_ord).isNull()
            | (F.col("ts") - F.lag("ts").over(w_ord)
               > F.expr("INTERVAL 30 MINUTES")), 1
        ).otherwise(0).alias("new_s"),
    )
    sess = marked.select(
        "user_id", "ts", F.sum("new_s").over(w_run).alias("sid"))
    grains = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("timestampdiff(SECOND, min(ts), max(ts))").alias("dur_s"))
    return grains.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
        F.round(F.avg("n"), 4).alias("avg_events_per_session"),
        F.max("dur_s").alias("max_session_s"),
    )


@register("agg_cooccurrence_lift", """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
tc AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
  FROM ut a JOIN ut b ON a.user_id = b.user_id
                     AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_ab,
       round(n_ab * 1.0 / n.n_users, 6) AS support,
       round(n_ab * 1.0 * n.n_users / (ta.n_t * tb.n_t), 6) AS lift
FROM pairs
JOIN tc ta ON ta.event_type = type_a
JOIN tc tb ON tb.event_type = type_b, n
""")
def agg_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence with support and lift (the first level
    of association-rule mining): which behaviors travel together across
    users, normalized by their independent rates.  The self-join runs
    on the (user, type)-DISTINCT table — per-user sets are bounded by
    the type domain (not by event counts), so the pair stage is linear
    in users times a small constant, never events².  Lift compares as
    an integer ratio (n_ab·n_users / n_a·n_b) rounded at 6 dp on both
    engines."""
    cat = Catalog(spark, sf_dir)
    ut = cat.events.select("user_id", "event_type").distinct()
    n_users = cat.events.agg(
        F.countDistinct("user_id").alias("n_users"))
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs
        .join(F.broadcast(tc.select(F.col("event_type").alias("type_a"),
                                    F.col("n_t").alias("n_a"))), "type_a")
        .join(F.broadcast(tc.select(F.col("event_type").alias("type_b"),
                                    F.col("n_t").alias("n_b"))), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a", "type_b", "n_ab",
            F.round(F.col("n_ab") / F.col("n_users"), 6).alias("support"),
            F.round(F.col("n_ab") * F.col("n_users")
                    / (F.col("n_a") * F.col("n_b")), 6).alias("lift"),
        )
    )


_PSI_EDGES = [5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0]  # 8 buckets
_PSI_SPLIT = "2024-01-16 00:00:00"
_PSI_B = len(_PSI_EDGES) + 1


def _psi_bucket_sql(col: str) -> str:
    clauses = " ".join(
        f"WHEN {col} < {e} THEN {i}" for i, e in enumerate(_PSI_EDGES))
    return f"CASE {clauses} ELSE {len(_PSI_EDGES)} END"


@register("agg_psi_value_drift", f"""
WITH halves AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END AS half,
         {_psi_bucket_sql('value')} AS bucket
  FROM events),
grid AS (
  SELECT t.event_type, h.half, b.bucket
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT 0 AS half UNION ALL SELECT 1) h,
       (SELECT UNNEST(range({_PSI_B})) AS bucket) b),
cnt AS (
  SELECT g.event_type, g.half, g.bucket,
         count(hv.event_type) AS n
  FROM grid g LEFT JOIN halves hv
    ON hv.event_type = g.event_type AND hv.half = g.half
   AND hv.bucket = g.bucket
  GROUP BY 1, 2, 3),
tot AS (SELECT event_type, half, CAST(sum(n) AS BIGINT) AS tot
        FROM cnt GROUP BY 1, 2),
shares AS (
  SELECT c.event_type, c.bucket,
         max(CASE WHEN c.half = 0
                  THEN (c.n + 0.5) / (t.tot + {_PSI_B} * 0.5) END) AS p,
         max(CASE WHEN c.half = 1
                  THEN (c.n + 0.5) / (t.tot + {_PSI_B} * 0.5) END) AS q
  FROM cnt c JOIN tot t ON t.event_type = c.event_type AND t.half = c.half
  GROUP BY 1, 2)
SELECT event_type,
       round(sum((q - p) * ln(q / p)), 6) AS psi
FROM shares GROUP BY event_type
""")
def agg_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: the value distribution
    of each event type, bucketed on fixed edges, compared between the
    first and second half of the month — PSI = Σ (q−p)·ln(q/p), the
    standard ML-ops alarm for feature drift between a reference and a
    serving window (rule of thumb: > 0.2 = investigate).  Buckets are
    Laplace-smoothed (+0.5) over the full (type × half × bucket) grid
    so empty buckets are well-defined on both engines.  One
    map-combined count per (type, half, bucket) — the only shuffle is
    over a grid whose size is types × 16, independent of event
    volume."""
    cat = Catalog(spark, sf_dir)
    halves = cat.events.select(
        "event_type",
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp_ntz"), 0)
        .otherwise(1).alias("half"),
        F.expr(_psi_bucket_sql("value")).alias("bucket"),
    )
    cnt = halves.groupBy("event_type", "half", "bucket").agg(
        F.count(F.lit(1)).alias("n"))
    grid = (
        cat.events.select("event_type").distinct()
        .crossJoin(spark.range(2).select(F.col("id").cast("int").alias("half")))
        .crossJoin(spark.range(_PSI_B).select(
            F.col("id").cast("int").alias("bucket")))
    )
    full = grid.join(cnt, ["event_type", "half", "bucket"], "left") \
        .fillna(0, subset=["n"])
    tot = full.groupBy("event_type", "half").agg(F.sum("n").alias("tot"))
    share = (F.col("n") + 0.5) / (F.col("tot") + _PSI_B * 0.5)
    shares = (
        full.join(tot, ["event_type", "half"])
        .groupBy("event_type", "bucket")
        .agg(
            F.max(F.when(F.col("half") == 0, share)).alias("p"),
            F.max(F.when(F.col("half") == 1, share)).alias("q"),
        )
    )
    return shares.groupBy("event_type").agg(
        F.round(F.sum((F.col("q") - F.col("p"))
                      * F.log(F.col("q") / F.col("p"))), 6).alias("psi"))


@register("agg_winsorized_stats", """
WITH pct AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type),
w AS (
  SELECT e.event_type, p.p05, p.p95,
         least(greatest(e.value, p.p05), p.p95) AS wv
  FROM events e JOIN pct p USING (event_type))
SELECT event_type, count(*) AS n,
       round(max(p05), 4) AS clip_lo,
       round(max(p95), 4) AS clip_hi,
       round(avg(wv), 4) AS winsor_mean,
       round(stddev_samp(wv), 4) AS winsor_sd
FROM w GROUP BY event_type
""")
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (winsorized) statistics per group: clip each metric to its
    group's [p05, p95] before computing mean/sd — the outlier-immune
    summary used for feature QA where a single corrupt value would
    otherwise poison the mean.

    Two passes over the fact table: (1) per-group clip boundaries,
    (2) map-side clip + co-moment agg, with the KB-sized boundary
    table broadcast into pass 2 — no row ever shuffles twice.  Exact
    `percentile` keeps the query oracle-checkable at test scale; the
    100 TB path swaps in `percentile_approx` (one-pass mergeable
    KLL-style sketch, same plan shape, bounded memory per group)
    without touching anything downstream of the clip expression."""
    cat = Catalog(spark, sf_dir)
    pct = cat.events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    wv = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        cat.events.join(F.broadcast(pct), "event_type")
        .select("event_type", "p05", "p95", wv.alias("wv"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("p05"), 4).alias("clip_lo"),
            F.round(F.max("p95"), 4).alias("clip_hi"),
            F.round(F.avg("wv"), 4).alias("winsor_mean"),
            F.round(F.stddev_samp("wv"), 4).alias("winsor_sd"),
        )
    )


_PR_D = 0.85   # damping
_PR_ITERS = 3  # fixed iterations (unrolled in the oracle)


def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT e.dst AS node,
         (1.0 - {_PR_D}) / max(n.n) + {_PR_D} * sum(p.pr / d.d) AS pr
  FROM edges e
  JOIN {prev} p ON e.src = p.node
  JOIN deg d ON d.src = e.src
  CROSS JOIN n
  GROUP BY e.dst)"""


def pagerank_iterate(pairs: DataFrame, *, iters: int = _PR_ITERS,
                     damping: float = _PR_D,
                     tol: float | None = None) -> DataFrame:
    """Synchronous PageRank over an undirected pair list (a, b) — the
    reusable Pregel-as-join+agg core behind `graph_pagerank`, exposed
    so any edge relation (and the property tests) can drive it.
    Returns (node, pr) unrounded.

    One shuffle per iteration (r5 verdict #3): the degree column is
    pre-joined into the persisted edge relation ONCE, so each round is
    a single join + hash-agg whose only exchange is the O(messages)
    re-key onto ``dst`` — the rank side arrives already partitioned on
    the node key from the previous round's aggregate (alias-preserved
    hashpartitioning), and the edge side reads straight from the
    src-co-partitioned cache.  tests/test_plans.py pins the
    one-exchange-per-iteration shape against the compiled plan.

    ``tol`` adds convergence early-exit: iteration stops when
    max |pr - prev| < tol (an O(nodes) check per round, materializing
    each round's ranks).  Left None for the oracle-parity query, whose
    fixed unrolled iterations the SQL replays term-for-term."""
    # Cache the pair list FIRST (r9, measured): `pairs` is an expensive
    # upstream (orders ⋈ lineitem + distinct for the declared query),
    # and it used to be recomputed once for the degree count (build)
    # and AGAIN when the edges_deg cache populated (exec).  persist,
    # NOT an eager localCheckpoint: the cache fills once inside the
    # deg.count() job below (no separate materialization pass), while
    # a checkpoint added a full write+read of the O(edges) relation —
    # fine at sf0.1 but measured +60% on the whole query at sf1
    # (12.9s -> 20.5s) before this was downgraded to a cache mark.
    # persist/unpersist are not refcounted: a cache the caller made is
    # the caller's to release, so _finish leaves it alone.
    caller_cached = pairs.is_cached
    pairs = pairs.persist()
    # explode-symmetrize, not union-of-swap: a union reads the pairs
    # cache on TWO branches, and during the first fill both branches
    # race to populate it (the gated-dedup sf10 lesson); one explode
    # reads it once.
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).persist()
    # one O(edges) relation carrying its source degree, co-partitioned
    # on src and reused every round — removes the per-iteration deg join
    edges_deg = edges.join(deg, "src").persist()
    n_nodes = deg.count()  # tiny: node-cardinality agg, also warms the caches
    pr = deg.select(F.col("src").alias("node"),
                    (F.lit(1.0) / F.lit(float(n_nodes))).alias("pr"))

    def _finish(ranks: DataFrame) -> DataFrame:
        # tol path only: materialize the O(nodes) result, then release
        # the round + edge caches (ADVICE r9: they used to outlive the
        # call and pile up across a session, leaning on LRU eviction).
        # The checkpoint is nodes-sized — NOT the edge-relation barrier
        # r9 measured at +60% on sf1 and reverted.  The tol=None
        # declared-query path stays fully lazy (its one-exchange-per-
        # iteration executed shape is pinned by tests/test_plans.py);
        # its caches are released by the session's cache clear, as the
        # bench does between queries.
        out = ranks.localCheckpoint()
        owned = (ranks, edges_deg, deg) + (() if caller_cached else (pairs,))
        for cached in owned:
            if cached.is_cached:
                cached.unpersist()
        return out

    for _ in range(iters):
        nxt = (
            edges_deg.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.lit((1.0 - damping) / n_nodes)
                  + F.lit(damping) * F.sum(F.col("pr") / F.col("d")))
                 .alias("pr"))
        )
        if tol is not None:
            nxt = nxt.persist()
            delta = (nxt.join(pr.withColumnRenamed("pr", "prev"), "node")
                     .agg(F.max(F.abs(F.col("pr") - F.col("prev"))))
                     .first()[0])
            prev, pr = pr, nxt
            if prev.is_cached:
                prev.unpersist()
            if delta is not None and delta < tol:
                return _finish(pr)
        else:
            pr = nxt
    return _finish(pr) if tol is not None else pr


@register("graph_pagerank", f"""
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
p0 AS (SELECT src AS node, 1.0 / n.n AS pr FROM deg CROSS JOIN n),
{_pagerank_iter_sql('p0', 'p1')},
{_pagerank_iter_sql('p1', 'p2')},
{_pagerank_iter_sql('p2', 'p3')}
SELECT node, round(pr, 6) AS pagerank
FROM p3
ORDER BY pagerank DESC, node
LIMIT 20
""")
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer–supplier interaction graph (who
    trades with whom, via orders ⋈ lineitem), 3 synchronous
    iterations at damping 0.85 — the iterative-graph-analytics
    capability class (importance/influence ranking) alongside the
    connected-components family in `operators/dedup.py`.

    Scale shape: the edge list is built once (distinct on the pair,
    both directions materialized, degree pre-joined) and every
    iteration is ONE shuffle — the O(messages) hash-agg re-key onto
    the destination; the rank side rides the previous round's
    aggregate partitioning and the edge side its cache layout
    (pinned by tests/test_plans.py).  Degrees and ranks are O(nodes);
    only the edge relation is O(edges).  Iterations run over packed
    LONG node ids (2*custkey / 2*suppkey+1), not the display strings —
    8-byte fixed keys hash, compare, and shuffle far cheaper than
    variable-length text at 3 rounds x 2|E| messages; the bijection is
    undone in one O(nodes) projection at the end.  The oracle unrolls
    the same 3 iterations as chained CTEs, so convergence math is
    checked term-for-term, not just in shape."""
    cat = Catalog(spark, sf_dir)
    pairs = (
        cat.orders.join(cat.lineitem,
                        cat.orders.o_orderkey == cat.lineitem.l_orderkey)
        .select((F.col("o_custkey") * 2).alias("a"),
                (F.col("l_suppkey") * 2 + 1).alias("b"))
        .distinct()
    )
    pr = pagerank_iterate(pairs)
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), (F.col("node") / 2).cast("long")),
    ).otherwise(
        F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long")))
    return (
        pr.select(node_str.alias("node"), F.round("pr", 6).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "node")
        .limit(20)
    )


@register("align_cogroup_interp", """
WITH a AS (
  SELECT user_id, ts, avg(value) AS av FROM events
  WHERE event_type = 'click' GROUP BY user_id, ts),
b AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
pts AS (
  SELECT user_id, ts, av, 1 AS is_a FROM a
  UNION ALL
  SELECT user_id, ts, NULL, 0 FROM b),
fwd AS (
  SELECT user_id, ts, av, is_a,
    last_value(av IGNORE NULLS) OVER w AS prev_val,
    last_value(CASE WHEN is_a = 1 THEN ts END IGNORE NULLS) OVER w AS prev_ts
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_a DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
bwd AS (
  SELECT user_id, ts, is_a, prev_val, prev_ts,
    last_value(av IGNORE NULLS) OVER w2 AS next_val,
    last_value(CASE WHEN is_a = 1 THEN ts END IGNORE NULLS) OVER w2 AS next_ts
  FROM fwd
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts DESC, is_a DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, ts,
  round(CASE
    WHEN prev_ts IS NULL THEN next_val
    WHEN next_ts IS NULL THEN prev_val
    WHEN next_ts = prev_ts THEN prev_val
    ELSE prev_val + (next_val - prev_val)
         * ((epoch_us(ts) - epoch_us(prev_ts))
            / CAST(epoch_us(next_ts) - epoch_us(prev_ts) AS DOUBLE))
  END, 4) AS v_interp
FROM bwd
WHERE is_a = 0 AND coalesce(prev_ts, next_ts) IS NOT NULL
""")
def align_cogroup_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped series alignment: resample each user's 'click' value
    series onto the timestamps of their 'view' events by linear
    interpolation (boundary-clamped) — the COGROUPED_MAP member of the
    Python-function API family (see functions/grouped.py), exercising
    `groupBy().cogroup().applyInPandas` end to end.

    The oracle replays np.interp's exact semantics relationally: a
    union of both series, ignore-nulls window passes in each direction
    for the bracketing grid points (ties order the grid point before
    the sample so an exact-timestamp hit returns the grid value), and
    the same µs-epoch float ratio."""
    from data_ingestion_system_spark.functions.grouped import (
        align_interpolate,
    )

    cat = Catalog(spark, sf_dir)
    a = cat.events.filter(F.col("event_type") == "click")
    b = cat.events.filter(F.col("event_type") == "view")
    return align_interpolate(a, b)


@register("agg_attribution_last_touch", """
WITH w AS (
  SELECT user_id, ts, event_type, value,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS touch
  FROM events)
SELECT coalesce(touch, '(none)') AS touch_type,
       count(*) AS n_conversions,
       round(sum(value), 2) AS attributed_value
FROM w
WHERE event_type = 'purchase'
GROUP BY coalesce(touch, '(none)')
""")
def agg_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every purchase credits the
    user's most recent preceding engagement touch (click or view;
    '(none)' for cold conversions) — the standard marketing-analytics
    join-free attribution model.

    One window pass (ignore-nulls last_value over the user's ordered
    stream, event_id as the deterministic tie-break) and one
    map-combined agg over the touch-type domain — the per-user
    partition is the only shuffle, and state per row is a single
    carried string, so the pass is O(events) regardless of history
    depth."""
    cat = Catalog(spark, sf_dir)
    touch = F.when(F.col("event_type").isin("click", "view"),
                   F.col("event_type"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        cat.events
        .withColumn("touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("(none)"))
                 .alias("touch_type"))
        .agg(F.count(F.lit(1)).alias("n_conversions"),
             F.round(F.sum("value"), 2).alias("attributed_value"))
    )


@register("agg_rolling_median_anomaly", """
WITH hc AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, h, n,
         median(n) OVER (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS med
  FROM hc)
SELECT event_type, h AS hour_ts, CAST(n AS BIGINT) AS n_events,
       round(med, 2) AS rolling_med,
       round(n / med, 4) AS spike_ratio
FROM r
WHERE n > 2 * med
""")
def agg_rolling_median_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection: flag hours whose event count
    exceeds 2× the 7-hour centered rolling MEDIAN for that type —
    median, not mean, so one spike can't mask itself by inflating its
    own baseline (the standard robust burst detector for ops
    dashboards and abuse monitoring).

    Spark's `median` refuses a window frame, so the rolling median is
    `sort_array(collect_list(...))` over the ±3-row frame plus exact
    midpoint arithmetic — per-row state is the 7-element frame, never
    the partition, and the window key (event_type) bounds each
    partition to its hour count.  The upstream hourly rollup is one
    map-combined agg; everything downstream operates on the
    hours × types table, independent of raw event volume."""
    cat = Catalog(spark, sf_dir)
    hc = (cat.events
          .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
          .agg(F.count(F.lit(1)).cast("double").alias("n")))
    w = (Window.partitionBy("event_type").orderBy("h").rowsBetween(-3, 3))
    arr = F.sort_array(F.collect_list("n").over(w))
    sz = F.size(arr)
    lo = F.element_at(arr, ((sz + 1) / 2).cast("int"))
    hi = F.element_at(arr, (sz / 2).cast("int") + F.lit(1))
    med = (lo + hi) / 2.0
    return (
        hc.withColumn("med", med)
        .filter(F.col("n") > 2 * F.col("med"))
        .select("event_type", F.col("h").alias("hour_ts"),
                F.col("n").cast("bigint").alias("n_events"),
                F.round("med", 2).alias("rolling_med"),
                F.round(F.col("n") / F.col("med"), 4).alias("spike_ratio"))
    )


@register("diag_key_skew", """
WITH kc AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot, avg(n) AS mean FROM kc)
SELECT user_id, CAST(n AS BIGINT) AS n_rows,
       round(n / tot, 6) AS share,
       round(n / mean, 4) AS skew_factor
FROM kc CROSS JOIN t
ORDER BY n_rows DESC, user_id
LIMIT 20
""")
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics: the 20 hottest join/agg keys with
    their share of all rows and a skew factor (multiple of the mean
    key load) — the measurement that decides between a plain shuffle
    join, AQE's skew splitting, and explicit salting
    (`operators/skew.py::salted_join`).  Run it on any key column
    BEFORE the join lands in production; a top key holding >5% of a
    100 TB fact is a straggler guarantee.

    One map-combined count per key, a 1-row total attached as a
    broadcast cross join (provably bounded — passes plans/audit.py),
    and a distributed top-20."""
    cat = Catalog(spark, sf_dir)
    kc = cat.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    t = kc.agg(F.sum("n").cast("double").alias("tot"),
               F.avg("n").alias("mean"))
    return (
        kc.crossJoin(F.broadcast(t))
        .select("user_id", F.col("n").cast("bigint").alias("n_rows"),
                F.round(F.col("n") / F.col("tot"), 6).alias("share"),
                F.round(F.col("n") / F.col("mean"), 4).alias("skew_factor"))
        .orderBy(F.col("n_rows").desc(), "user_id")
        .limit(20)
    )


@register("agg_mad_outliers", """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, e.value, med.m,
         abs(e.value - med.m) AS adev
  FROM events e JOIN med USING (event_type)),
mad AS (
  SELECT event_type, max(m) AS m, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       count(*) AS n,
       round(max(d.m), 4) AS median_value,
       round(max(mad.mad), 4) AS mad,
       CAST(sum(CASE WHEN abs(d.value - d.m) > 3.0 * 1.4826 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad USING (event_type)
GROUP BY d.event_type
""")
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per group via the median absolute
    deviation: a point is anomalous when it sits more than
    3 x 1.4826 x MAD from the group median (1.4826 rescales MAD to a
    Gaussian sigma) — the breakdown-point-0.5 alternative to z-scores,
    which a single corrupt value can blind.

    Completes the robust-statistics family next to the winsorized
    moments (clip-then-average) and the rolling-median burst detector
    (time-local): three passes over the fact, each map-side joined
    against a KB-sized broadcast of per-group medians; exact
    `percentile` keeps the oracle term-for-term, `percentile_approx`
    is the documented 100 TB swap with the identical plan."""
    cat = Catalog(spark, sf_dir)
    med = cat.events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m"))
    dev = (cat.events.join(F.broadcast(med), "event_type")
           .select("event_type", "value", "m",
                   F.abs(F.col("value") - F.col("m")).alias("adev")))
    mad = dev.groupBy("event_type").agg(
        F.max("m").alias("m2"),
        F.percentile("adev", F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("m"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(F.when(F.abs(F.col("value") - F.col("m"))
                         > 3.0 * 1.4826 * F.col("mad"), 1).otherwise(0))
            .cast("bigint").alias("n_outliers"),
        )
    )


@register("agg_chi2_type_by_dow", """
WITH obs AS (
  SELECT event_type, dayofweek(ts) AS dow, CAST(count(*) AS DOUBLE) AS o
  FROM events GROUP BY 1, 2),
rt AS (SELECT event_type, sum(o) AS r FROM obs GROUP BY event_type),
ct AS (SELECT dow, sum(o) AS c FROM obs GROUP BY dow),
n AS (SELECT sum(o) AS n FROM obs)
SELECT round(sum(pow(o - r * c / n.n, 2) / (r * c / n.n)), 4) AS chi2,
       CAST((count(DISTINCT obs.event_type) - 1)
            * (count(DISTINCT obs.dow) - 1) AS BIGINT) AS dof
FROM obs JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
""")
def agg_chi2_type_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: is event-type mix independent of
    day-of-week?  The classic seasonality/contingency check a data
    pipeline runs before trusting a stratified sample drawn on one of
    the two axes.  Observed counts are one map-combined agg over the
    (type x dow) grid; marginals and the total derive from that grid
    (KB-sized), so the corpus is touched once and the statistic is a
    single co-moment fold over at most |types| x 7 rows."""
    cat = Catalog(spark, sf_dir)
    obs = (cat.events
           .groupBy("event_type", F.dayofweek("ts").alias("dow"))
           .agg(F.count(F.lit(1)).cast("double").alias("o")))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .agg(
            F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 4).alias("chi2"),
            ((F.count_distinct("event_type") - 1)
             * (F.count_distinct("dow") - 1))
            .cast("bigint").alias("dof"),
        )
    )


@register("agg_regression_per_type", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(value, hour(ts)), 4) AS slope,
       round(regr_intercept(value, hour(ts)), 4) AS intercept,
       round(regr_r2(value, hour(ts)), 4) AS r2
FROM events
GROUP BY event_type
""")
def agg_regression_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form linear regression (value ~ hour of day):
    slope/intercept/R² from the built-in co-moment aggregates — the
    'does this metric drift across the day' screen, one map-combined
    pass, no iterative fitting.  regr_* aggregates are
    decomposable (sums of products), so partial aggregation applies
    at any scale."""
    cat = Catalog(spark, sf_dir)
    h = F.hour("ts").cast("double")
    return cat.events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.regr_slope(F.col("value"), h), 4).alias("slope"),
        F.round(F.regr_intercept(F.col("value"), h), 4).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), h), 4).alias("r2"),
    )


# Column spec drives BOTH the Spark aggregates and the oracle SQL, so
# the two ladders cannot diverge.  kind: numeric columns profile
# min/max numerically (rounded; engine float->string rendering is not
# portable), string-ish columns lexicographically, timestamps via the
# shared 'yyyy-MM-dd HH:mm:ss.SSSSSS' cast both engines print.
_PROFILE_COLS = [
    ("event_id", "num"), ("ts", "str"), ("user_id", "num"),
    ("event_type", "str"), ("value", "num"), ("props", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        mn = (f"round(CAST(min({c}) AS DOUBLE), 4)" if kind == "num"
              else "CAST(NULL AS DOUBLE)")
        mx = (f"round(CAST(max({c}) AS DOUBLE), 4)" if kind == "num"
              else "CAST(NULL AS DOUBLE)")
        ms = ("CAST(NULL AS VARCHAR)" if kind == "num"
              else f"CAST(min({c}) AS VARCHAR)")
        xs = ("CAST(NULL AS VARCHAR)" if kind == "num"
              else f"CAST(max({c}) AS VARCHAR)")
        parts.append(f"""
SELECT '{c}' AS col,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       {mn} AS min_num, {mx} AS max_num,
       {ms} AS min_str, {xs} AS max_str
FROM events""")
    return "\nUNION ALL\n".join(parts)


@register("diag_profile_events", _profile_oracle())
def diag_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report: per-column row/null/distinct counts and
    min/max — the first query anyone runs on an unfamiliar table, and
    the per-load freshness check a pipeline stores next to each batch.
    One row per column, generated from the same spec as the oracle.

    Exact count(DISTINCT) keeps the report oracle-checkable; at 100 TB
    the drop-in is approx_count_distinct (HLL, one pass, mergeable —
    the `agg_approx_distinct` row demonstrates it), leaving the plan
    otherwise identical.  Each column's profile is one map-combined
    pass; Spark unions them and scans the parquet once per column
    branch with only that column read (column pruning), so I/O totals
    one full-width scan."""
    cat = Catalog(spark, sf_dir)
    outs = []
    for c, kind in _PROFILE_COLS:
        col = F.col(c)
        mn = (F.round(F.min(col).cast("double"), 4) if kind == "num"
              else F.lit(None).cast("double"))
        mx = (F.round(F.max(col).cast("double"), 4) if kind == "num"
              else F.lit(None).cast("double"))
        ms = (F.lit(None).cast("string") if kind == "num"
              else F.min(col).cast("string"))
        xs = (F.lit(None).cast("string") if kind == "num"
              else F.max(col).cast("string"))
        outs.append(cat.events.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(col.isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_null"),
            F.count_distinct(col).alias("n_distinct"),
            mn.alias("min_num"), mx.alias("max_num"),
            ms.alias("min_str"), xs.alias("max_str"),
        ).select(F.lit(c).alias("col"), "*"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register("agg_ship_lag_priority", """
WITH lag AS (
  SELECT o.o_orderpriority,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
SELECT o_orderpriority,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN lag_days > 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       round(avg(CAST(lag_days AS DOUBLE)), 4) AS avg_lag_days,
       round(max(CAST(lag_days AS DOUBLE)), 4) AS max_lag_days
FROM lag
GROUP BY o_orderpriority
""")
def agg_ship_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-flavored shipping-SLA report: per order priority, how
    many line items shipped more than 60 days after the order date,
    plus the lag distribution — the conditional-count-over-join shape
    (CASE inside aggregates) that turns an operational join into a
    handful of KPI rows.

    One broadcast-or-shuffle equi-join (AQE decides from runtime
    sizes) followed by a map-combined agg on the tiny priority
    domain; the date arithmetic is codegen'd datediff, and only the
    three needed columns survive column pruning into the scans."""
    cat = Catalog(spark, sf_dir)
    lag = (cat.orders
           .join(cat.lineitem,
                 cat.orders.o_orderkey == cat.lineitem.l_orderkey)
           .select("o_orderpriority",
                   F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
                   .alias("lag_days")))
    return lag.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("lag_days") > 60, 1).otherwise(0))
        .cast("bigint").alias("n_late"),
        F.round(F.avg(F.col("lag_days").cast("double")), 4)
        .alias("avg_lag_days"),
        F.round(F.max(F.col("lag_days").cast("double")), 4)
        .alias("max_lag_days"),
    )


_RFM_ASOF = "2024-02-01 00:00:00"  # fixed analysis instant (fixture epoch)


@register("agg_rfm_segments", f"""
WITH rfm AS (
  SELECT user_id,
         date_diff('day', max(ts), TIMESTAMP '{_RFM_ASOF}') AS recency_d,
         count(*) AS freq,
         sum(value) AS monetary
  FROM events GROUP BY user_id),
seg AS (
  SELECT user_id,
         CASE WHEN recency_d <= 7 AND freq >= 60 THEN 'champion'
              WHEN recency_d <= 7 THEN 'recent'
              WHEN freq >= 60 THEN 'loyal_lapsing'
              ELSE 'at_risk' END AS segment,
         recency_d, freq, monetary
  FROM rfm)
SELECT segment,
       count(*) AS n_users,
       round(avg(CAST(recency_d AS DOUBLE)), 4) AS avg_recency_d,
       round(avg(CAST(freq AS DOUBLE)), 4) AS avg_freq,
       round(sum(monetary), 2) AS total_monetary
FROM seg GROUP BY segment
""")
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary), the classic
    customer-analytics rollup: one pass computes each user's last-seen
    gap, event count, and value sum; a fixed threshold ladder assigns
    segments; the report aggregates per segment.  Thresholds are
    constants (not data-dependent quantiles) so the segment of a user
    is stable across runs and partitions — the variant with quantile
    cut-points composes this with `agg_group_percentiles`.

    Two map-combined aggregations (user grid, then segment grid);
    nothing shuffles twice; the analysis instant is pinned so the
    query is deterministic on the fixtures."""
    cat = Catalog(spark, sf_dir)
    asof = F.lit(_RFM_ASOF).cast("timestamp_ntz")
    rfm = cat.events.groupBy("user_id").agg(
        F.datediff(asof, F.max("ts")).alias("recency_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("value").alias("monetary"),
    )
    seg = rfm.withColumn(
        "segment",
        F.when((F.col("recency_d") <= 7) & (F.col("freq") >= 60),
               "champion")
        .when(F.col("recency_d") <= 7, "recent")
        .when(F.col("freq") >= 60, "loyal_lapsing")
        .otherwise("at_risk"))
    return seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg(F.col("recency_d").cast("double")), 4)
        .alias("avg_recency_d"),
        F.round(F.avg(F.col("freq").cast("double")), 4).alias("avg_freq"),
        F.round(F.sum("monetary"), 2).alias("total_monetary"),
    )


@register("agg_activity_heatmap", """
SELECT event_type,
       isodow(ts) AS dow,
       hour(ts) AS hod,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type, isodow(ts), hour(ts)
""")
def agg_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional activity heatmap: the (day-of-week x hour-of-day)
    grid per event type that backs every ops dashboard's punch-card
    view.  One map-combined aggregation onto a bounded grid (types x
    7 x 24 rows) regardless of event volume."""
    cat = Catalog(spark, sf_dir)
    return (cat.events
            .groupBy("event_type",
                     # ISO weekday (Mon=1..Sun=7) matches DuckDB isodow;
                     # Spark's dayofweek is Sun=1 -- a silent off-by-one
                     (F.weekday("ts") + 1).cast("bigint").alias("dow"),
                     F.hour("ts").alias("hod"))
            .agg(F.count(F.lit(1)).alias("n"),
                 # cent-quantized integer total: EXACT in both engines.
                 # A float avg lost one cell to summation-order ulp, and
                 # a cents/n division ties at the 4th decimal where
                 # Spark's decimal-string HALF_UP and DuckDB's binary
                 # rounding disagree -- the integer total has neither
                 # failure mode, and the consumer derives the mean
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("value_cents")))


@register("agg_pareto_users", """
WITH uc AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM uc),
top AS (SELECT cents FROM uc ORDER BY cents DESC, user_id LIMIT 20)
SELECT CAST(count(*) AS BIGINT) AS top_n,
       CAST(sum(cents) AS BIGINT) AS top_cents,
       CAST(max(tot.t) AS BIGINT) AS total_cents,
       round(sum(cents) * 1.0 / max(tot.t), 6) AS share
FROM top CROSS JOIN tot
""")
def agg_pareto_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration (Pareto) check: what share of all metric value do
    the top-20 users carry?  The whale-detection number behind both
    abuse review and the salting decision (`diag_key_skew` names the
    keys; this says how much mass they own).  Cent-quantized integer
    sums keep every figure exact; the top-20 comes from a distributed
    top-k, and the 1-row total rides as a broadcast cross join."""
    cat = Catalog(spark, sf_dir)
    uc = cat.events.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    tot = uc.agg(F.sum("cents").cast("bigint").alias("t"))
    top = (uc.orderBy(F.col("cents").desc(), "user_id").limit(20)
           .select("cents"))
    return (
        top.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("top_n"),
            F.sum("cents").cast("bigint").alias("top_cents"),
            F.max("t").cast("bigint").alias("total_cents"),
            F.round(F.sum("cents") * 1.0 / F.max("t"), 6).alias("share"),
        )
    )


@register("agg_quantile_sketch", """
SELECT event_type,
       round(quantile_cont(value, 0.50), 4) AS exact_p50,
       round(quantile_cont(value, 0.95), 4) AS exact_p95,
       round(quantile_cont(value, 0.99), 4) AS exact_p99,
       TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
FROM events GROUP BY event_type
""")
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (Greenwald-Khanna via percentile_approx)
    with a bounds-style oracle — the 100 TB percentile path: sketches
    merge associatively, so the shuffle moves bounded-size summaries
    instead of sorting every value per group (the exact `percentile`
    twin buffers a whole group's values on one reducer).

    Bounds oracle (same contract as agg_approx_distinct): the sketch's
    p-th estimate is an actual data value whose RANK is within
    eps = 1/accuracy of p, so its VALUE must land between the exact
    quantiles at p +/- delta, where delta = 3*eps (rank-guarantee
    slack) + 2/N_FLOOR (discretization: at small group sizes one rank
    step is a bigger quantile step than 3*eps, so the bracket must span
    at least two order statistics; N_FLOOR=100 documents the smallest
    group the gate is calibrated for — sf0.001's ~200-row groups
    through sf0.1's ~40k).  The query emits the exact quantiles plus
    the in-bracket booleans; DuckDB recomputes the exact side and pins
    the booleans TRUE — a hash match proves Spark's exact percentiles
    agree with DuckDB AND the sketch honors its rank guarantee.
    Production posture: estimate-only (drop the exact twin columns)."""
    cat = Catalog(spark, sf_dir)
    accuracy = 1000
    n_floor = 100
    delta = 3.0 / accuracy + 2.0 / n_floor

    def pct(p):
        return F.percentile("value", F.lit(p))

    agg = cat.events.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.50), F.lit(accuracy)).alias("a50"),
        F.percentile_approx("value", F.lit(0.95), F.lit(accuracy)).alias("a95"),
        F.percentile_approx("value", F.lit(0.99), F.lit(accuracy)).alias("a99"),
        pct(0.50).alias("e50"), pct(0.95).alias("e95"), pct(0.99).alias("e99"),
        pct(0.50 - delta).alias("lo50"), pct(0.50 + delta).alias("hi50"),
        pct(0.95 - delta).alias("lo95"), pct(0.95 + delta).alias("hi95"),
        pct(0.99 - delta).alias("lo99"), pct(min(0.99 + delta, 1.0)).alias("hi99"),
    )

    def ok(a, lo, hi):
        return (F.col(a) >= F.col(lo)) & (F.col(a) <= F.col(hi))

    return agg.select(
        "event_type",
        F.round("e50", 4).alias("exact_p50"),
        F.round("e95", 4).alias("exact_p95"),
        F.round("e99", 4).alias("exact_p99"),
        ok("a50", "lo50", "hi50").alias("p50_ok"),
        ok("a95", "lo95", "hi95").alias("p95_ok"),
        ok("a99", "lo99", "hi99").alias("p99_ok"),
    )


@register("agg_welch_ttest", """
WITH g AS (
  SELECT event_type,
         count(*) AS n, avg(value) AS m, var_samp(value) AS v
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type),
a AS (SELECT n AS n1, m AS m1, v AS v1 FROM g WHERE event_type = 'purchase'),
b AS (SELECT n AS n2, m AS m2, v AS v2 FROM g WHERE event_type = 'click')
SELECT n1, n2,
       round(m1 - m2, 4) AS mean_diff,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
       round(pow(v1 / n1 + v2 / n2, 2)
             / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 4)
         AS dof
FROM a, b
""")
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's unequal-variance t-test comparing
    `value` between purchase and click events — the t statistic plus the
    Welch-Satterthwaite effective degrees of freedom, the pair every
    experimentation pipeline reports before a launch call.

    Scale shape: per-arm (n, mean, var_samp) is ONE map-combined hash
    aggregate over a pushed-down two-value IN filter; the test statistic
    assembles on two 1-row frames (scalar-attach crossJoins, bounded by
    construction).  Nothing downstream of the scan is data-sized.  Ref
    parity: none (the reference has no statistics surface); experiment
    analysis is north-star scope."""
    cat = Catalog(spark, sf_dir)
    g = (cat.events
         .filter(F.col("event_type").isin("purchase", "click"))
         .groupBy("event_type")
         .agg(F.count("*").alias("n"), F.avg("value").alias("m"),
              F.var_samp("value").alias("v")))
    # each arm filter selects exactly one group row; the explicit limit
    # is a no-op on the result but makes the 1-row bound PROVABLE to
    # Catalyst (maxRows), so the scalar-attach crossJoin passes the
    # plans/audit.py bounded-theta-join proof (same pattern as
    # queries_similarity._corpus_queries)
    a = (g.filter(F.col("event_type") == "purchase").limit(1)
         .select(F.col("n").alias("n1"), F.col("m").alias("m1"),
                 F.col("v").alias("v1")))
    b = (g.filter(F.col("event_type") == "click").limit(1)
         .select(F.col("n").alias("n2"), F.col("m").alias("m2"),
                 F.col("v").alias("v2")))
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    dof = (F.pow(se2, 2)
           / (F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
              + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)))
    return (a.crossJoin(b)
            .select("n1", "n2",
                    F.round(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
                    F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 4)
                    .alias("t_stat"),
                    F.round(dof, 4).alias("dof")))


_CUPED_SPLIT = "2024-01-16 00:00:00"  # pre-period | experiment period


@register("agg_cuped", f"""
WITH per_user AS (
  SELECT user_id,
         avg(CASE WHEN ts <  TIMESTAMP '{_CUPED_SPLIT}' THEN value END) AS x,
         avg(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}' THEN value END) AS y
  FROM events GROUP BY user_id),
b AS (SELECT user_id, x, y FROM per_user
      WHERE x IS NOT NULL AND y IS NOT NULL),
m AS (SELECT covar_pop(x, y) / var_pop(x) AS theta, avg(x) AS xbar FROM b),
adj AS (
  SELECT user_id % 2 AS arm, y, y - theta * (x - xbar) AS y_cuped
  FROM b, m)
SELECT arm, count(*) AS n_users,
       round(avg(y), 4) AS mean_raw,
       round(avg(y_cuped), 4) AS mean_cuped,
       round(var_samp(y_cuped) / var_samp(y), 4) AS var_ratio
FROM adj GROUP BY arm
""")
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, the industry-standard
    experiment-sensitivity trick): per user, the pre-period metric x is
    the control covariate for the experiment-period metric y; the
    adjusted metric y - theta*(x - mean(x)) with theta =
    cov(x,y)/var(x) keeps the same expectation per arm but sheds the
    between-user variance x explains — var_ratio is the fraction that
    remains (lower = more sensitive experiment).  Arms are a
    deterministic user_id % 2 split so the report is a pure function of
    the corpus.

    Scale shape: per-user (x, y) is ONE conditional-average hash
    aggregate over the events scan; (theta, xbar) is a global
    map-combined moment aggregate (Catalyst-provable 1 row, so the
    scalar-attach crossJoin is bounded); the adjusted metric and the
    per-arm rollup touch only user-sized data.  Nothing past the first
    aggregate is event-sized.  Ref parity: none; experiment analysis is
    north-star scope."""
    cat = Catalog(spark, sf_dir)
    split = F.lit(_CUPED_SPLIT).cast("timestamp_ntz")
    per_user = cat.events.groupBy("user_id").agg(
        F.avg(F.when(F.col("ts") < split, F.col("value"))).alias("x"),
        F.avg(F.when(F.col("ts") >= split, F.col("value"))).alias("y"))
    b = per_user.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    m = b.agg((F.covar_pop("x", "y") / F.var_pop("x")).alias("theta"),
              F.avg("x").alias("xbar"))
    adj = (b.crossJoin(F.broadcast(m))
           .select((F.col("user_id") % 2).alias("arm"), "y",
                   (F.col("y") - F.col("theta")
                    * (F.col("x") - F.col("xbar"))).alias("y_cuped")))
    return (adj.groupBy("arm")
            .agg(F.count("*").alias("n_users"),
                 F.round(F.avg("y"), 4).alias("mean_raw"),
                 F.round(F.avg("y_cuped"), 4).alias("mean_cuped"),
                 F.round(F.var_samp("y_cuped") / F.var_samp("y"), 4)
                 .alias("var_ratio")))



@register("agg_mann_whitney", """
WITH s AS (
  SELECT event_id, event_type, value FROM events
  WHERE event_type IN ('purchase', 'click')),
r AS (
  SELECT event_type,
         row_number() OVER (ORDER BY value, event_id) AS rnk
  FROM s),
agg AS (
  SELECT
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS n1,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      AS n2,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN rnk ELSE 0 END)
         AS BIGINT) AS r1
  FROM r)
SELECT n1, n2,
       round(r1 - n1 * (n1 + 1) / 2.0, 4) AS u1,
       round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
             / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 4) AS z
FROM agg
""")
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum), the nonparametric sibling of
    agg_welch_ttest: compares purchase vs click `value` distributions by
    rank, immune to the outliers and skew that break a t-test on
    revenue-like metrics — U1 from the purchase arm's rank sum, plus
    the large-sample normal z.  Ranks order by (value, event_id):
    `value` is continuous so exact cross-arm ties (where the textbook
    midrank correction would matter) do not occur in this data, and the
    deterministic tie-break keeps the rank assignment engine-portable
    regardless.

    Scale shape: the GLOBAL rank uses the same TeraSort pattern as
    agg_equidepth_histogram — approx-percentile range cuts (driver
    literals steering load balance only; pid is monotone in the sort
    key), per-range counts -> prefix-sum offsets, then row_number per
    pid + offset; every window task holds ~N/nparts rows, no
    single-task sort anywhere.  The rank sums then fold map-side into
    one 1-row aggregate.  Ref parity: none; experiment analysis is
    north-star scope."""
    cat = Catalog(spark, sf_dir)
    s = (cat.events
         .filter(F.col("event_type").isin("purchase", "click"))
         .select("event_id", "event_type", "value"))

    staged, offs, _totals = range_stage(spark, s, "value")
    off = offset_at(offs["__rows__"])
    w = Window.partitionBy("pid").orderBy("value", "event_id")
    ranked = staged.select(
        "event_type", (F.row_number().over(w) + off).alias("rnk"))

    is_p = F.col("event_type") == "purchase"
    agg = ranked.agg(
        F.sum(F.when(is_p, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~is_p, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(is_p, F.col("rnk")).otherwise(0)).cast("long")
        .alias("r1"))
    n1, n2, r1 = F.col("n1"), F.col("n2"), F.col("r1")
    u1 = r1 - n1 * (n1 + 1) / 2.0
    z = (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) \
        / F.sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0)
    return agg.select("n1", "n2", F.round(u1, 4).alias("u1"),
                      F.round(z, 4).alias("z"))


@register("agg_benford_digits", """
WITH v AS (SELECT value FROM events WHERE value > 0),
d0 AS (
  SELECT value, floor(log10(value)) AS e,
         floor(value / pow(10, floor(log10(value)))) AS d_raw
  FROM v),
d AS (
  SELECT CAST(CASE WHEN d_raw >= 10 THEN floor(d_raw / 10)
              WHEN d_raw < 1 THEN floor(value / pow(10, e - 1))
              ELSE d_raw END AS BIGINT) AS digit
  FROM d0),
n AS (SELECT count(*) AS total FROM d),
obs AS (SELECT digit, count(*) AS cnt FROM d GROUP BY digit)
SELECT obs.digit, obs.cnt,
       round(obs.cnt * 1.0 / total, 6) AS obs_frac,
       round(log10(1 + 1.0 / obs.digit), 6) AS benford_frac,
       round(pow(obs.cnt - total * log10(1 + 1.0 / obs.digit), 2)
             / (total * log10(1 + 1.0 / obs.digit)), 4) AS chi2_term
FROM obs, n
""")
def agg_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — the classic anomaly/fraud screen for
    any organically-generated numeric column: observed first-significant-
    digit frequencies of `value` against Benford's log10(1 + 1/d) law,
    with the per-digit chi-square contribution (large terms point at the
    digits where the data was fabricated, capped, or unit-mixed).

    The first digit comes from floor(value / 10^floor(log10(value)))
    with an explicit +-1-decade correction branch, because IEEE log10
    lands a hair below the integer at exact powers of ten (log10(1000)
    = 2.999...96) — the correction makes the digit exact instead of
    trusting the libm rounding, and both engines run the identical
    arithmetic.  Scale shape: one scan-side projection (filter + digit
    arithmetic, no Python), a 9-row hash aggregate with map-side
    combine, and a 1-row total broadcast — nothing past the scan is
    data-sized.  Ref parity: none; data-quality scope."""
    cat = Catalog(spark, sf_dir)
    v = cat.events.filter(F.col("value") > 0).select("value")
    e = F.floor(F.log10("value"))
    d_raw = F.floor(F.col("value") / F.pow(F.lit(10.0), e))
    digit = (F.when(d_raw >= 10, F.floor(d_raw / 10))
             .when(d_raw < 1,
                   F.floor(F.col("value") / F.pow(F.lit(10.0), e - 1)))
             .otherwise(d_raw)).cast("long")
    d = v.select(digit.alias("digit"))
    n = d.agg(F.count("*").alias("total"))
    obs = d.groupBy("digit").agg(F.count("*").alias("cnt"))
    p = F.log10(1 + 1.0 / F.col("digit"))
    return (obs.crossJoin(F.broadcast(n))
            .select("digit", "cnt",
                    F.round(F.col("cnt") * 1.0 / F.col("total"), 6)
                    .alias("obs_frac"),
                    F.round(p, 6).alias("benford_frac"),
                    F.round(F.pow(F.col("cnt") - F.col("total") * p, 2)
                            / (F.col("total") * p), 4).alias("chi2_term")))


@register("agg_ks_test", """
WITH s AS (
  SELECT event_id, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a1
  FROM events WHERE event_type IN ('purchase', 'click')),
n AS (SELECT CAST(sum(a1) AS BIGINT) AS n1,
             CAST(count(*) - sum(a1) AS BIGINT) AS n2 FROM s),
r AS (
  SELECT value,
         sum(a1) OVER (ORDER BY value, event_id
                       ROWS UNBOUNDED PRECEDING) AS c1,
         row_number() OVER (ORDER BY value, event_id) AS rall
  FROM s),
d AS (
  SELECT value,
         abs(c1 * 1.0 / n1 - (rall - c1) * 1.0 / n2) AS diff
  FROM r, n)
SELECT n1, n2, round(diff, 6) AS ks_stat, round(value, 4) AS ks_at
FROM d, n
ORDER BY diff DESC, value
LIMIT 1
""")
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic comparing the purchase vs
    click `value` distributions — the EXACT (unbinned) drift gate next
    to agg_psi_value_drift's binned PSI: D = max |ECDF1 - ECDF2| over
    the merged order, reported with the value where the gap peaks (the
    actionable part: WHERE the distributions diverge).  `value` is
    continuous, so cross-arm ties (the only place the ECDF step order
    would matter) do not occur, and the (value, event_id) tie-break
    keeps the merged order engine-portable regardless.

    Scale shape: the merged-order ECDFs use the TeraSort prefix-sum
    pattern (third user after agg_equidepth_histogram and
    agg_mann_whitney): approx-percentile cuts -> per-pid (row, arm-1)
    counts -> prefix-sum offsets as driver literals -> per-pid
    row_number and RUNNING SUM plus offsets = exact global rank and
    cumulative arm-1 count, every window task ~N/nparts rows.  The
    argmax is TakeOrderedAndProject (top-1).  Nothing is single-task.
    Ref parity: none; experiment/drift analysis is north-star scope."""
    cat = Catalog(spark, sf_dir)
    s = (cat.events
         .filter(F.col("event_type").isin("purchase", "click"))
         .select("event_id", "value",
                 F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("a1")))

    staged, offs, totals = range_stage(spark, s, "value", sum_cols=("a1",))
    n1_tot = totals["a1"]
    n2_tot = totals["__rows__"] - n1_tot
    oall = offset_at(offs["__rows__"])
    oa1 = offset_at(offs["a1"])

    w = (Window.partitionBy("pid").orderBy("value", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wr = Window.partitionBy("pid").orderBy("value", "event_id")
    c1 = (F.sum("a1").over(w) + oa1).alias("c1")
    rall = (F.row_number().over(wr) + oall).alias("rall")
    r = staged.select("value", c1, rall)
    diff = F.abs(F.col("c1") * 1.0 / F.lit(n1_tot)
                 - (F.col("rall") - F.col("c1")) * 1.0 / F.lit(n2_tot))
    return (r.select("value", diff.alias("diff"))
            .orderBy(F.col("diff").desc(), "value")
            .limit(1)
            .select(F.lit(n1_tot).cast("long").alias("n1"),
                    F.lit(n2_tot).cast("long").alias("n2"),
                    F.round("diff", 6).alias("ks_stat"),
                    F.round("value", 4).alias("ks_at")))


@register("window_scd2_intervals", """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
chg AS (
  SELECT user_id, event_type AS status, ts, event_id FROM s
  WHERE prev IS NULL OR prev <> event_type)
SELECT user_id, status, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS valid_to
FROM chg
""")
def window_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history build: collapse each
    user's event stream into status VALIDITY INTERVALS — a row per
    status CHANGE carrying [valid_from, valid_to), open-ended (NULL
    valid_to) on the current status.  This is the standard warehouse
    lowering of a mutable-status table the reference would UPDATE in
    place (src/services/audit.services.ts): append-only history that
    answers both "status now" (valid_to IS NULL) and "status as of T"
    (point-in-time join on the interval) without rewrites.

    Scale shape: two window passes, both PARTITIONED BY USER — bounded
    per-key state, the exact shape Spark distributes well; the
    change-collapse filter between them shrinks the second window's
    input to the change rows (web-scale streams are mostly repeats).
    The (ts, event_id) tie-break makes interval endpoints
    engine-portable.  Ref parity: O-16-adjacent (the reference's
    correlation UPDATE becomes history rows); SCD2 itself is north-star
    warehouse scope."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = cat.events.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev"))
    chg = s.filter(F.col("prev").isNull()
                   | (F.col("prev") != F.col("event_type")))
    return chg.select(
        "user_id", F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"))


@register("agg_lorenz_gini", """
WITH ux AS (
  SELECT user_id, sum(value) AS x FROM events
  WHERE event_type = 'purchase' GROUP BY user_id),
r AS (
  SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM ux),
n AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx FROM ux)
SELECT n,
       round(sx, 4) AS total_value,
       round(2.0 * sum(i * x) / (n * sx) - (n + 1.0) / n, 6) AS gini
FROM r, n
GROUP BY n, sx
""")
def agg_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase value — the full Lorenz-
    curve inequality measure next to agg_pareto_users' single top-share
    point: G = 2*sum(i * x_(i)) / (n * sum(x)) - (n+1)/n with i the
    ascending global rank.  The number a marketplace/data-balance
    report leads with ("how concentrated is the value?") and, on
    token-count columns, the corpus-balance gate for training mixes.

    Scale shape: the per-user rollup is one map-combined hash
    aggregate; the GLOBAL rank is the shared TeraSort primitive
    (operators/ranks.py::range_stage — cuts as driver literals,
    per-pid counts -> prefix-sum offsets, pid-partitioned row_number +
    offset), its fourth user; the weighted sum then folds map-side
    into one 1-row aggregate.  No single-task sort.  The (x, user_id)
    tie-break keeps ranks — and with them the exact Gini under tied
    values — engine-portable."""
    cat = Catalog(spark, sf_dir)
    ux = (cat.events.filter(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.sum("value").alias("x")))

    staged, offs, totals = range_stage(spark, ux, "x")
    n_tot = totals["__rows__"]
    off = offset_at(offs["__rows__"])
    w = Window.partitionBy("pid").orderBy("x", "user_id")
    ranked = staged.select(
        "x", (F.row_number().over(w) + off).alias("i"))
    agg = ranked.agg(F.sum(F.col("i") * F.col("x")).alias("six"),
                     F.sum("x").alias("sx"))
    n = F.lit(n_tot).cast("long")
    return agg.select(
        n.alias("n"),
        F.round(F.col("sx"), 4).alias("total_value"),
        F.round(2.0 * F.col("six") / (n * F.col("sx"))
                - (n + 1.0) / n, 6).alias("gini"))


_FUNNEL_WINDOW_DAYS = 7


@register("agg_funnel_window", f"""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND e.ts <= c.t2 + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
  GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase,
       round((SELECT count(*) FROM c) * 1.0
             / (SELECT count(*) FROM v), 6) AS cr_view_click,
       round((SELECT count(*) FROM p) * 1.0
             / (SELECT count(*) FROM c), 6) AS cr_click_purchase
""")
def agg_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with BOUNDED conversion windows — the product-analytics
    form: a click counts only within 7 days of the user's first view,
    a purchase only within 7 days of that qualifying click (contrast
    agg_funnel's global-first-occurrence ordering, which credits
    conversions months apart).  Stage timestamps re-anchor at each
    qualifying step, which is exactly what first-occurrence aggregation
    cannot express.

    Scale shape: each stage is one equi-join on user_id (the range
    predicate rides the join as a filter — no theta join) followed by
    one map-combined min; per-stage state is ONE timestamp per
    surviving user, and the funnel narrows monotonically so each stage
    scans less.  Stage counts are Catalyst-provable 1-row aggregates;
    the readout assembles on broadcast scalars.  Ref parity: none;
    product-analytics scope."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events
    win = F.expr(f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAYS")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (ev.filter(F.col("event_type") == "click").join(v, "user_id")
         .filter((F.col("ts") > F.col("t1"))
                 & (F.col("ts") <= F.col("t1") + win))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (ev.filter(F.col("event_type") == "purchase").join(c, "user_id")
         .filter((F.col("ts") > F.col("t2"))
                 & (F.col("ts") <= F.col("t2") + win))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click"))
    np_ = p.agg(F.count("*").alias("n_purchase"))
    return (nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))
            .select("n_view", "n_click", "n_purchase",
                    F.round(F.col("n_click") * 1.0 / F.col("n_view"), 6)
                    .alias("cr_view_click"),
                    F.round(F.col("n_purchase") * 1.0 / F.col("n_click"), 6)
                    .alias("cr_click_purchase")))


@register("join_interval_bucketed", """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
chg AS (
  SELECT user_id, event_type AS status, ts, event_id FROM s
  WHERE prev IS NULL OR prev <> event_type),
iv AS (
  SELECT user_id, status, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM chg)
SELECT e.event_id, e.user_id, e.ts, iv.status AS status_at_event
FROM events e JOIN iv
  ON e.user_id = iv.user_id
 AND iv.valid_from <= e.ts
 AND (iv.valid_to IS NULL OR e.ts < iv.valid_to)
WHERE e.event_type = 'purchase'
""")
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval enrichment join — every purchase event tagged
    with the user's SCD2 status valid AT ITS TIMESTAMP (valid_from <=
    ts < valid_to, open current interval matches everything after its
    start).  The "status as of T" read that window_scd2_intervals'
    history build exists to answer, and the third member of the
    temporal-join family next to as-of (nearest earlier) and range
    (radius) joins.

    Scale shape — the bucketed range-join lowering (what Databricks'
    range-join optimization does under the hood): Spark would execute
    the naive form as an equi-join on user_id with the range predicate
    as a post-join residual, which degenerates to (events_per_user x
    intervals_per_user) pairs per user — quadratic for a power user
    with a years-long history.  Instead each interval EXPLODES to the
    daily buckets it covers (sequence over date_trunc'd endpoints;
    open intervals clamp to the probe-side max day, a 1-row broadcast
    scalar), the join runs on (user_id, day) equality, and the exact
    range predicate filters the survivors: per-key fan-out is bounded
    by intervals-overlapping-one-day, not per-user history length.
    Interval day-spans are bounded by status-change cadence; a
    pathological never-changing user costs rows in the SMALL (interval)
    branch only.  Oracle: the plain inequality join (same rows — the
    buckets are a pure partitioning of the match space, pinned
    disjoint+complete by construction: every match's probe day falls
    in exactly one covered bucket).  Both halves live in
    operators/temporal.py so the streaming enrichment
    (streaming/enrich.py) runs the identical plan per micro-batch.
    Ref parity: none; temporal warehouse scope."""
    from data_ingestion_system_spark.operators.temporal import (
        point_in_interval_enrich,
        scd2_intervals,
    )

    cat = Catalog(spark, sf_dir)
    iv = scd2_intervals(cat.events)
    probes = (cat.events.filter(F.col("event_type") == "purchase")
              .select("event_id", "user_id", "ts"))
    return point_in_interval_enrich(probes, iv)


# --------------------------------------------------------------------------
# CDC / MERGE (north-star: incremental table maintenance)

@register("cdc_merge_upsert", """
WITH ev AS (SELECT user_id, event_type, ts, event_id FROM events),
base AS (
  SELECT user_id, event_type AS status, ts AS status_ts FROM (
    SELECT user_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE ts < TIMESTAMP '2024-01-21 00:00:00')
  WHERE rn = 1),
dlat AS (
  SELECT user_id, event_type AS status, ts AS status_ts FROM (
    SELECT user_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE ts >= TIMESTAMP '2024-01-21 00:00:00')
  WHERE rn = 1)
SELECT user_id, status, status_ts FROM base
WHERE NOT EXISTS (SELECT 1 FROM dlat d WHERE d.user_id = base.user_id)
UNION ALL
SELECT user_id, status, status_ts FROM dlat WHERE status <> 'error'
""")
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE apply (SCD type 1): fold a change batch into a
    one-row-per-key snapshot with latest-wins upsert + tombstone delete
    — the `MERGE INTO base USING delta` capability next to
    window_scd2_intervals' type-2 history build.  Events before the
    cutoff stand in for the materialized base snapshot; events on/after
    it are the incoming CDC batch, keyed by user_id with `error` as the
    delete tombstone.

    Scale shape — the copy-on-write MERGE lowering every lakehouse
    engine uses: the change batch is small by construction, so its
    latest-wins window is cheap (partitioned by key, bounded by batch
    size per key), its KEY SET broadcasts, and the base table is
    touched by exactly one map-only broadcast ANTI join (rows whose key
    is untouched stream through; no shuffle, no window over the base).
    The only reason base is derived via a window HERE is that the
    fixture ships raw events, not a snapshot — production base is
    already one-row-per-key.  At 100 TB the anti join further prunes to
    the partitions the delta's keys land in (partition-level
    copy-on-write).  Ref parity: the reference's Lambda upserts
    response rows into `api_audit` one batch at a time
    (src/lambda/processQueue.ts:179-238) — this is that merge,
    engine-native.  Tombstone + applied-row pins:
    tests/test_cdc_merge.py.  The oracle uses NOT EXISTS (not NOT IN)
    so a NULL-keyed base row would match the anti join's
    keep-NULL-keys semantics rather than zeroing the branch."""
    cat = Catalog(spark, sf_dir)
    # timestamp_ntz to match the events.ts column type exactly — no
    # dependence on the session timezone pin (ADVICE r4)
    cutoff = F.lit("2024-01-21 00:00:00").cast("timestamp_ntz")
    ev = cat.events.select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())

    def latest(df: DataFrame) -> DataFrame:
        return (df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id", F.col("event_type").alias("status"),
                        F.col("ts").alias("status_ts")))

    base = latest(ev.filter(F.col("ts") < cutoff))
    dlat = latest(ev.filter(F.col("ts") >= cutoff))
    kept = base.join(F.broadcast(dlat.select("user_id")),
                     "user_id", "left_anti")
    applied = dlat.filter(F.col("status") != "error")
    return kept.unionByName(applied)


_LPA_ITERS = 3


def _lpa_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT dst AS node, label FROM (
    SELECT e.dst, p.label,
           row_number() OVER (PARTITION BY e.dst
                              ORDER BY count(*) DESC, p.label) AS rn
    FROM edges e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst, p.label) WHERE rn = 1)"""


_LPA_DISPLAY_SQL = ("CASE WHEN label % 2 = 0 THEN 'c' || (label // 2) "
                    "ELSE 's' || ((label - 1) // 2) END")

_LPA_KNN = 3  # strongest suppliers kept per customer (k-NN sparsifier)

_LPA_SQL = f"""
WITH w AS (
  SELECT o_custkey AS ck, l_suppkey AS sk, count(*) AS n
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2),
pairs AS (
  SELECT ck * 2 AS a, sk * 2 + 1 AS b FROM (
    SELECT ck, sk,
           row_number() OVER (PARTITION BY ck ORDER BY n DESC, sk) AS rn
    FROM w) WHERE rn <= {_LPA_KNN}),
edges0 AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges0),
edges AS (
  SELECT src, dst FROM edges0
  UNION ALL
  SELECT node, node FROM nodes),
l0 AS (SELECT node, node AS label FROM nodes),
{_lpa_iter_sql('l0', 'l1')},
{_lpa_iter_sql('l1', 'l2')},
{_lpa_iter_sql('l2', 'l3')}
SELECT {_LPA_DISPLAY_SQL} AS community,
       CAST(count(*) AS BIGINT) AS n_members
FROM l3
GROUP BY 1
ORDER BY n_members DESC, community
LIMIT 20
"""


@register("graph_label_propagation", _LPA_SQL)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation (Raghavan
    et al. 2007) over the k-NN-sparsified trade graph: each customer
    keeps only their 3 STRONGEST supplier edges (by interaction count,
    suppkey tie-break — the mutual-affinity sparsifier community
    detection standardly runs on, since the raw bipartite graph is
    near-complete and every mode collapses to one label), every node
    starts as its own label, and each of 3 synchronous rounds
    reassigns each node the MOST FREQUENT label among its neighbors
    (ties broken by the smaller label, so the run is exactly
    reproducible).  The 20 largest communities come back with display
    ids.  Complements graph_pagerank (influence) and the
    connected-components family (reachability) with the third classic
    graph capability — cohesion — which a corpus pipeline uses to
    group near-duplicate SITES/domains before per-cluster sampling,
    where plain components over-merge through one stray edge and
    pagerank says nothing about grouping.

    Scale shape: the k-NN sparsifier is one count aggregate plus a
    per-customer window top-3 (bounded state per key), leaving
    O(3 · customers) edges at ANY corpus scale; iterations run the
    graph_pagerank skeleton — the edge list built once (both
    directions, persisted through the rounds) over packed LONG node
    ids (2*custkey / 2*suppkey+1; 8-byte shuffle keys, the display
    string materializes once at the end), and each round is ONE
    message shuffle: join labels into the src-partitioned edge cache,
    hash-agg label counts keyed on dst, and a per-dst window argmax
    that RIDES the aggregate's dst hash partitioning (no extra
    exchange).  Labels are O(nodes), messages O(edges); nothing
    materializes the community closure.  The oracle unrolls the same
    3 rounds as chained CTEs, so the propagation math is checked
    term-for-term."""
    cat = Catalog(spark, sf_dir)
    wcnt = (
        cat.orders.join(cat.lineitem,
                        cat.orders.o_orderkey == cat.lineitem.l_orderkey)
        .groupBy(F.col("o_custkey").alias("ck"),
                 F.col("l_suppkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wk = Window.partitionBy("ck").orderBy(F.col("n").desc(), F.col("sk"))
    # Eager checkpoint of the O(3·customers) kNN edge list (r9,
    # measured): the sparsifier (orders ⋈ lineitem + count agg + top-3
    # window) fed FOUR plan branches — both union directions plus the
    # node set's distinct under the self-loop union — and AQE's runtime
    # exchange reuse only dedupes the shuffle, not the per-branch
    # post-shuffle window/filter work.  Materializing the tiny id-pair
    # relation runs the sparsifier exactly once.
    pairs = (wcnt.withColumn("rn", F.row_number().over(wk))
             .filter(F.col("rn") <= _LPA_KNN)
             .select((F.col("ck") * 2).alias("a"),
                     (F.col("sk") * 2 + 1).alias("b"))
             .localCheckpoint(eager=True))
    edges0 = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")) \
        .unionAll(pairs.select(F.col("b").alias("src"),
                               F.col("a").alias("dst")))
    nodes = edges0.select(F.col("src").alias("node")).distinct()
    # self-loop per node: the node's own label joins the vote, which
    # breaks the 2-cycle oscillation synchronous LPA exhibits on
    # bipartite graphs (standard LPA variant; pinned by the planted
    # two-clique test in tests/test_relational_extra.py)
    edges = (edges0.unionAll(nodes.select(F.col("node").alias("src"),
                                          F.col("node").alias("dst")))
             .persist())
    lab = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("dst").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(_LPA_ITERS):
        cnt = (edges.join(lab.withColumnRenamed("node", "src"), "src")
               .groupBy("dst", "label")
               .agg(F.count(F.lit(1)).alias("c")))
        lab = (cnt.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select(F.col("dst").alias("node"), "label"))
    # exact integer division (`div`), not float `/`: packed labels can
    # exceed 2^53 where float division is inexact, and the DuckDB
    # oracle unpacks with integer `//` (ADVICE r8)
    community = F.when(
        F.col("label") % 2 == 0,
        F.concat(F.lit("c"), F.expr("label div 2")),
    ).otherwise(
        F.concat(F.lit("s"), F.expr("(label - 1) div 2")))
    return (lab.select(community.alias("community"))
            .groupBy("community")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .orderBy(F.col("n_members").desc(), "community")
            .limit(20))


_ROLL_WINDOW_DAYS = 7


@register("agg_rolling_distinct_users", f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
spine AS (SELECT DISTINCT d FROM ud)
SELECT s.d AS day,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
FROM spine s
JOIN ud u ON u.d BETWEEN s.d - {_ROLL_WINDOW_DAYS - 1} AND s.d
GROUP BY s.d
""")
def agg_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding
    COUNT(DISTINCT) every growth dashboard runs and no engine can
    express as a plain window function at scale (a distinct over a
    moving range frame needs per-row set state; Spark's own window
    spec rejects count_distinct over frames).  The scalable lowering
    is INTERVAL EXPLODE: each (user, active-day) fact is emitted into
    exactly the 7 trailing windows it can influence
    (explode(sequence(d, d+6)) — constant fan-out, map-side), the
    (user, window-day) stream dedupes on a 12-byte composite key, and
    the count per day is then a plain combinable count — no per-day
    set state anywhere, no quadratic self-join.

    Scale shape: fan-out is EXACTLY the window width (7x row growth
    bound, independent of data), both shuffles are narrow-key
    (user+date, then date), and the final day spine semi-join prunes
    windows past the observed range.  The oracle computes the same
    thing the dashboard way (day-spine range join + count distinct),
    so the lowering is checked against the textbook definition, not
    against itself.  Ref parity: none (the reference has no windowed
    analytics); north-star scope."""
    cat = Catalog(spark, sf_dir)
    ud = (cat.events
          .select("user_id", F.to_date("ts").alias("d"))
          .distinct())
    spine = ud.select("d").distinct().select(F.col("d").alias("day"))
    expanded = (ud.select(
        "user_id",
        F.explode(F.sequence(
            F.col("d"), F.date_add(F.col("d"), _ROLL_WINDOW_DAYS - 1)))
        .alias("day"))
        .distinct())
    return (expanded.join(spine, "day", "left_semi")
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_users_7d")))


_GAP_GRID_MIN = (15, 30, 60)


@register("agg_session_gap_sweep", f"""
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events),
gs AS (
  SELECT CASE WHEN prev_ts IS NULL THEN NULL
              ELSE CAST(floor(epoch(ts) - epoch(prev_ts)) AS BIGINT)
         END AS gap_s
  FROM g),
grid(gap_minutes) AS (VALUES {", ".join(f"({m})" for m in _GAP_GRID_MIN)})
SELECT gap_minutes,
       CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > gap_minutes * 60
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       round(count(*) * 1.0
             / sum(CASE WHEN gap_s IS NULL OR gap_s > gap_minutes * 60
                        THEN 1 ELSE 0 END), 4) AS events_per_session
FROM gs CROSS JOIN grid
GROUP BY gap_minutes
ORDER BY gap_minutes
""")
def agg_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-gap parameter sweep — the tuning table behind every
    sessionization deployment (the third of the engine's tuner-table
    family, with dedup_lsh_power_curve and sim_ivf_recall_curve): how
    many sessions, and how many events per session, does each
    candidate inactivity gap (15/30/60 min) produce on THIS corpus?
    Reading it picks the gap where the session count stops being
    sensitive to the parameter — the knee every analytics team finds
    by rerunning sessionize N times; here it is ONE pass.

    Scale shape: the per-user lag window runs ONCE (one shuffle on
    user_id, sorted per-user pass — the agg_sessionize lowering), the
    grid cross is 3 constant broadcast rows, and the per-threshold
    session counts are map-combinable conditional sums — sweeping the
    parameter costs 3 aggregate columns, not 3 sessionize runs.  Gap
    seconds use the same floored-epoch arithmetic agg_sessionize pins
    cross-engine (integer on both sides; ties on ts break on event_id
    so duplicate timestamps gap identically on any engine)."""
    cat = Catalog(spark, sf_dir)
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (cat.events.select("user_id", "ts", "event_id")
            .withColumn("prev_ts", F.lag("ts").over(w_ord))
            .withColumn("gap_s", F.expr(
                "timestampdiff(SECOND, prev_ts, ts)")))
    grid = spark.createDataFrame(
        [(m,) for m in _GAP_GRID_MIN], "gap_minutes int").limit(
        len(_GAP_GRID_MIN))  # provable bound for the plan linter
    start = F.when(
        F.col("prev_ts").isNull()
        | (F.col("gap_s") > F.col("gap_minutes") * 60), 1).otherwise(0)
    return (gaps.crossJoin(F.broadcast(grid))
            .groupBy("gap_minutes")
            .agg(F.sum(start).cast("long").alias("n_sessions"),
                 F.round(F.count(F.lit(1))
                         / F.sum(start), 4).alias("events_per_session"))
            .orderBy("gap_minutes"))


@register("window_activity_streaks", """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
r AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INT) AS grp
  FROM ud),
streaks AS (
  SELECT user_id, grp, count(*) AS len
  FROM r GROUP BY user_id, grp)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(sum(len) AS BIGINT) AS active_days
FROM streaks GROUP BY user_id
""")
def window_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands per user at day grain: consecutive active days
    collapse into streaks via the row_number-difference trick (a run of
    consecutive dates minus its 1..n rank is one constant group key),
    reported as per-user streak count, longest streak, and total
    active days — the engagement-streak metric every retention
    dashboard derives, and the day-grain complement to agg_sessionize's
    minute-grain islands.

    Scale shape: one distinct on (user, day) (12-byte composite), one
    per-user window whose state is a single counter (row_number over a
    sorted day run — no frame buffering), and two combinable
    aggregations that both ride the window's user_id hash
    partitioning; the group key is pure date arithmetic (date minus
    rank — identical integer-day semantics in both engines), so
    nothing string-typed ever shuffles."""
    cat = Catalog(spark, sf_dir)
    ud = (cat.events.select("user_id", F.to_date("ts").alias("d"))
          .distinct())
    r = ud.withColumn(
        "grp", F.expr("date_sub(d, cast(row_number() over "
                      "(partition by user_id order by d) as int))"))
    streaks = r.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (streaks.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_streaks"),
                 F.max("len").alias("longest_streak"),
                 F.sum("len").alias("active_days")))
