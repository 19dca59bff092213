"""Table maintenance: partition-scoped upsert (dynamic overwrite MERGE)
and small-file compaction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.sources.writers import (
    compact_partitions,
    upsert_by_partition,
    write_date_partitioned,
)


def _rows(spark, rows):
    df = spark.createDataFrame(
        rows, "transaction_id string, timestamp string, status_code int")
    return df.withColumn(
        "timestamp", F.to_timestamp("timestamp").cast("timestamp_ntz"))


def _parts(path):
    return sorted(d for d in os.listdir(path) if d.startswith("audit_date="))


def test_upsert_touches_only_affected_partitions(spark, tmp_path):
    table = str(tmp_path / "silver")
    base = _rows(spark, [
        ("t1", "2024-03-01 10:00:00", 500),
        ("t2", "2024-03-02 10:00:00", 200),
        ("t3", "2024-03-03 10:00:00", 200),
    ])
    upsert_by_partition(spark, base, table)
    assert _parts(table) == [f"audit_date=2024-03-0{d}" for d in (1, 2, 3)]
    d3_files = set(os.listdir(os.path.join(table, "audit_date=2024-03-03")))

    # a newer status for t1 lands (same day): only day 1 rewrites
    upd = _rows(spark, [("t1", "2024-03-01 11:00:00", 200)])
    upsert_by_partition(spark, upd, table, merge_key="transaction_id",
                        tiebreaks=("status_code",))
    rows = {r.transaction_id: r for r in spark.read.parquet(table).collect()}
    assert len(rows) == 3
    assert rows["t1"].status_code == 200          # latest won
    assert str(rows["t1"].timestamp) == "2024-03-01 11:00:00"
    assert rows["t2"].status_code == 200          # untouched partitions intact
    # day-3 partition files were not rewritten
    assert set(os.listdir(os.path.join(table, "audit_date=2024-03-03"))) == d3_files


def test_upsert_without_merge_key_appends(spark, tmp_path):
    table = str(tmp_path / "bronze")
    upsert_by_partition(spark, _rows(spark, [("a", "2024-03-01 10:00:00", 1)]), table)
    upsert_by_partition(spark, _rows(spark, [("a", "2024-03-01 12:00:00", 2)]), table)
    assert spark.read.parquet(table).count() == 2


def test_compaction_reduces_file_count(spark, tmp_path):
    table = str(tmp_path / "many")
    # simulate micro-batch appends: 5 small writes into the same date
    for i in range(5):
        df = _rows(spark, [(f"t{i}", "2024-03-01 10:00:00", 200)])
        write_date_partitioned(df, table, ts_col="timestamp")
    part_dir = os.path.join(table, "audit_date=2024-03-01")
    before = len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])
    assert before >= 5

    n = compact_partitions(spark, table)
    assert n == 1
    after = len([f for f in os.listdir(part_dir) if f.endswith(".parquet")])
    assert after < before
    assert spark.read.parquet(table).count() == 5  # no data change


def _bloom_offsets(spark, path):
    """Bloom filter offset of each ``transaction_id`` column chunk in one
    parquet file (-1 where there is none), read through parquet-mr."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(src)
    try:
        return [c.getBloomFilterOffset()
                for b in reader.getFooter().getBlocks()
                for c in b.getColumns()
                if c.getPath().toDotString() == "transaction_id"]
    finally:
        reader.close()


def test_bloom_filter_only_on_compacted_files(spark, tmp_path):
    """Micro-batch files carry no bloom filter (a few ids read cheaper
    than any filter); compaction writes one on the lookup column."""
    table = str(tmp_path / "bronze")
    part_dir = os.path.join(table, "audit_date=2024-03-01")
    for i in range(3):
        write_date_partitioned(
            _rows(spark, [(f"t{i}{j}", "2024-03-01 10:00:00", 200)
                          for j in range(4)]), table)
    small = [os.path.join(part_dir, f) for f in os.listdir(part_dir)
             if f.endswith(".parquet")]
    assert small and all(_bloom_offsets(spark, f) == [-1] for f in small)
    assert all(os.path.getsize(f) < 10_000 for f in small)

    assert compact_partitions(spark, table) == 1
    big = [os.path.join(part_dir, f) for f in os.listdir(part_dir)
           if f.endswith(".parquet")]
    assert big and all(min(_bloom_offsets(spark, f)) > 0 for f in big)
    assert spark.read.parquet(table).count() == 12


def test_scd2_versioning(spark):
    """Two update batches produce a contiguous, correctly-closed version
    chain per key; untouched keys pass through byte-identical."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from data_ingestion_system_spark.sources.writers import scd2_apply

    t0, t1, t2, t3 = (datetime(2024, 1, d, 0, 0) for d in (1, 5, 9, 13))
    history = spark.createDataFrame(
        [(1, "a1", t0, None), (2, "b1", t0, None), (3, "c1", t0, None)],
        "k int, attr string, valid_from timestamp_ntz, valid_to timestamp_ntz")

    # batch 1: two chained updates for k=1, one for k=2
    batch1 = spark.createDataFrame(
        [(1, "a2", t1), (1, "a3", t2), (2, "b2", t1)],
        "k int, attr string, ts timestamp_ntz")
    h1 = scd2_apply(history, batch1, "k", "ts")

    # batch 2 on top of batch 1: k=2 changes again
    batch2 = spark.createDataFrame(
        [(2, "b3", t3)], "k int, attr string, ts timestamp_ntz")
    h2 = scd2_apply(h1, batch2, "k", "ts")

    rows = {(r.k, r.attr): (r.valid_from, r.valid_to) for r in h2.collect()}
    assert rows == {
        (1, "a1"): (t0, t1), (1, "a2"): (t1, t2), (1, "a3"): (t2, None),
        (2, "b1"): (t0, t1), (2, "b2"): (t1, t3), (2, "b3"): (t3, None),
        (3, "c1"): (t0, None),
    }
    # exactly one current (open) version per key
    cur = h2.filter(F.col("valid_to").isNull()).groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur) and len(cur) == 3


def test_diff_tables(spark, sf_dir):
    """added / removed / changed detected exactly; unchanged rows absent;
    NULL attribute values compare null-safely."""
    from pyspark.sql import functions as F

    from data_ingestion_system_spark.sources.writers import diff_tables

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double")
    after = spark.createDataFrame(
        [(2, "b", None),      # unchanged (NULL == NULL null-safely)
         (3, "c", 31.0),      # changed
         (4, "D", 40.0),      # changed
         (5, "e", 50.0)],     # added      (1 removed)
        "k int, s string, v double")
    got = {r.k: r.status for r in diff_tables(base, after, "k").collect()}
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}

    # identical snapshots diff to empty — the migration-parity assertion
    orders = Catalog(spark, sf_dir).orders
    assert diff_tables(orders, orders, "o_orderkey").count() == 0


def test_write_audit_publish(spark, sf_dir, tmp_path):
    """A clean dataset publishes; a dirty one raises and leaves the
    previously published data untouched."""
    import pytest as _pytest

    from data_ingestion_system_spark.sources.writers import publish_if_valid

    path = str(tmp_path / "published")
    good = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, v double")
    rules = {
        "null_key": F.col("k").isNull(),
        "nonpositive_v": F.col("v") <= 0,
    }
    counts = publish_if_valid(good, path, rules)
    assert counts == {"null_key": 0, "nonpositive_v": 0}
    assert {r.k for r in spark.read.parquet(path).collect()} == {1, 2}

    bad = spark.createDataFrame([(3, -1.0)], "k int, v double")
    with _pytest.raises(ValueError, match="nonpositive_v"):
        publish_if_valid(bad, path, rules)
    # previous publish still intact
    assert {r.k for r in spark.read.parquet(path).collect()} == {1, 2}


def test_scd2_as_of_point_in_time(spark):
    """A point-in-time read returns exactly one version per key — the
    one current at the cutoff — and an as-of at a boundary timestamp is
    inclusive of the version opening there."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from data_ingestion_system_spark.sources.writers import scd2_apply, scd2_as_of

    t0, t1, t2 = (datetime(2024, 1, d, 0, 0) for d in (1, 5, 9))
    history = spark.createDataFrame(
        [(1, "a1", t0, None), (2, "b1", t0, None)],
        "k int, attr string, valid_from timestamp_ntz, valid_to timestamp_ntz")
    batch = spark.createDataFrame(
        [(1, "a2", t1), (1, "a3", t2)],
        "k int, attr string, ts timestamp_ntz")
    h = scd2_apply(history, batch, "k", "ts")

    def snap(ts):
        return {r.k: r.attr for r in scd2_as_of(h, ts).collect()}

    assert snap(datetime(2024, 1, 3)) == {1: "a1", 2: "b1"}   # pre-update
    assert snap(t1) == {1: "a2", 2: "b1"}                     # boundary incl.
    assert snap(datetime(2024, 1, 7)) == {1: "a2", 2: "b1"}
    assert snap(datetime(2024, 2, 1)) == {1: "a3", 2: "b1"}   # open rows
    assert snap("2024-01-03 00:00:00") == {1: "a1", 2: "b1"}  # string cutoff
    # every snapshot: exactly one version per key
    for ts in (t0, t1, t2):
        one = scd2_as_of(h, ts).groupBy("k").count().collect()
        assert all(r["count"] == 1 for r in one)


def test_advance_rollup_matches_full_recompute(spark, tmp_path):
    """Three incremental advances (including late data for an already-
    rolled-up date) must equal the one-shot aggregate of all raw data,
    and each advance must rewrite only the dates its slice touches."""
    from datetime import date

    from pyspark.sql import functions as F

    from data_ingestion_system_spark.sources.writers import advance_rollup

    rollup = str(tmp_path / "rollup")
    schema = "audit_date date, event_type string, value double"
    d1, d2, d3 = date(2024, 3, 1), date(2024, 3, 2), date(2024, 3, 3)
    slices = [
        [(d1, "a", 1.0), (d1, "a", 2.0), (d1, "b", 5.0)],
        [(d2, "a", 3.0), (d2, "b", 1.0)],
        [(d1, "a", 10.0), (d3, "b", 4.0)],   # late data for d1 + new d3
    ]
    exprs = {"n": "count(*)", "total": "sum(value)", "mx": "max(value)"}
    written = []
    for s in slices:
        written.append(advance_rollup(
            spark, spark.createDataFrame(s, schema), rollup,
            ["event_type"], exprs))
    assert written == [1, 1, 2]   # slice 3 touches d1 (late) and d3

    got = {(r.audit_date, r.event_type): (r.n, r.total, r.mx)
           for r in spark.read.parquet(rollup).collect()}
    all_rows = spark.createDataFrame(
        [x for s in slices for x in s], schema)
    expect = {(r.audit_date, r.event_type): (r.n, r.total, r.mx)
              for r in all_rows.groupBy("audit_date", "event_type").agg(
                  F.expr("count(*)").alias("n"),
                  F.expr("sum(value)").alias("total"),
                  F.expr("max(value)").alias("mx")).collect()}
    assert got == expect
    assert got[(d1, "a")] == (3, 13.0, 10.0)   # late data folded in


def test_apply_cdc_net_effect(spark):
    """CDC applier: per-key winner by sequence; D deletes, I/U upsert,
    out-of-order arrivals within the batch cannot regress state."""
    from data_ingestion_system_spark.sources.writers import apply_cdc

    history = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double")
    changes = spark.createDataFrame(
        [
            (2, 101, "U", "b2", 21.0),
            (2, 100, "U", "bX", 99.0),   # superseded by seq 101
            (3, 102, "D", None, None),   # delete key 3
            (4, 103, "I", "d", 40.0),    # brand-new key
            (4, 105, "U", "d2", 41.0),   # updated in the same batch
            (4, 104, "D", None, None),   # deleted then re-upserted: U wins
        ],
        "k long, seq long, op string, name string, v double")
    out = {r["k"]: (r["name"], r["v"])
           for r in apply_cdc(history, changes, "k", "seq").collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 21.0), 4: ("d2", 41.0)}


def test_missing_partitions_backfill_planner(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_ingestion_system_spark.sources.writers import (
        missing_partitions,
        write_date_partitioned,
    )

    df = spark.createDataFrame(
        [("t1", "2024-03-01T10:00:00Z"), ("t2", "2024-03-03T10:00:00Z")],
        "transaction_id string, timestamp string",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    path = str(tmp_path / "bronze")
    write_date_partitioned(df, path)
    want = ["2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04"]
    assert missing_partitions(spark, path, want) == [
        "2024-03-02", "2024-03-04"]
    # empty table dir: everything is missing
    assert missing_partitions(spark, str(tmp_path / "nope"), want) == want


def test_compaction_restores_overwrite_mode(spark, tmp_path):
    """Session-conf hygiene: _dynamic_overwrite must leave
    partitionOverwriteMode exactly as it found it — including UNSET
    when it was never set.  The leak this pins: one compaction call
    turning every later plain mode="overwrite" in the same session
    into a partial (dynamic) overwrite, so stale partitions survive a
    rebuild and get silently served (caught by the full suite via
    test_vector_index's truncation case)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    base = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "id long, audit_date string")
    table = str(tmp_path / "t")
    base.write.partitionBy("audit_date").parquet(table)

    spark.conf.unset(key)
    compact_partitions(spark, table)
    assert spark.conf.get(key, None) is None, "conf leaked (was unset)"

    spark.conf.set(key, "static")
    try:
        compact_partitions(spark, table)
        assert spark.conf.get(key) == "static", "explicit value not restored"
    finally:
        spark.conf.unset(key)
