"""Partitioned sinks + binary source — the storage layout that replaces
the reference's five secondary indexes.

The reference lays records out as ``audit/{yyyy-MM-dd}/{txn}/...`` S3 keys
(``src/services/s3.service.ts:33-34``) and leans on Postgres B-tree
indexes for the filter columns (``src/scripts/setup-db.ts:72-78``).  Spark
has no secondary indexes; the equivalent machinery is

* **hive-style date partitioning** (O-3/O-25): equality/range predicates
  on `audit_date` prune whole directories before any I/O;
* **sorted-within-partition layout**: sorting each file by the top-k sort
  key (`timestamp`) tightens parquet row-group min/max stats, so
  `ORDER BY ts DESC LIMIT k` touches the newest row-groups only;
* **row-group stats + dictionary** on the point-lookup column
  (`transaction_id`) do the B-tree's job per file, plus a **bloom
  filter** once compaction makes the file large enough to need one.  A
  micro-batch file carries none: its ~12 unique ids are a ~500 B
  PLAIN-encoded chunk, cheaper to read than any filter, while a filter
  sized for 10^6 ids would make each such file ~1 MB.

At 100 TB the partition count, not the byte count, is the failure mode:
one `repartition` on the partition column before the write keeps it to
one file per date per shuffle partition instead of
`tasks x dates` small files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MAX_ATTACHMENT_BYTES = 5 * 1024 * 1024  # multer cap, audit.middleware.ts:10
BLOOM_COL = "transaction_id"  # the point-lookup column


def with_audit_date(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """O-34: derive the partition column ``audit_date`` (yyyy-MM-dd)."""
    return df.withColumn("audit_date", F.date_format(F.col(ts_col), "yyyy-MM-dd"))


def write_date_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "timestamp",
    sort_col: str | None = None,
    mode: str = "append",
) -> None:
    """O-3 + O-25: date-partitioned parquet append with skipping-friendly
    layout.  ``repartition(partition_col)`` coalesces each date's rows into
    the same tasks (small-file control); ``sortWithinPartitions`` makes the
    row-group stats on the sort column tight.  No bloom filter: these are
    micro-batch-sized files; ``compact_partitions`` adds one."""
    out = with_audit_date(df, ts_col).repartition(F.col("audit_date"))
    if sort_col:
        out = out.sortWithinPartitions(F.col("audit_date"), F.col(sort_col).desc())
    out.write.mode(mode).partitionBy("audit_date").parquet(path)


def upsert_by_partition(
    spark: SparkSession,
    updates: DataFrame,
    table_path: str,
    ts_col: str = "timestamp",
    merge_key: str | None = None,
    tiebreaks: tuple[str, ...] = (),
) -> None:
    """Partition-scoped upsert: rewrite ONLY the date partitions the
    update batch touches (dynamic partition overwrite).

    This is the materialized alternative to the latest-wins *view*
    (``streaming/pipeline.py::silver_view``): when read amplification on
    the view outweighs write amplification, merge each micro-batch into
    the affected partitions — cost is proportional to the touched dates'
    data, never the whole table.  The reference's row-level UPDATE
    (``processQueue.ts:230-238``) rewrote in place; on immutable storage
    the partition is the atomic replacement unit.

    With ``merge_key`` set, union+latest-wins (greatest ``ts_col``, then
    ``tiebreaks``) dedups per key — a true MERGE; without it the rewrite
    appends within the partition."""
    from data_ingestion_system_spark.operators.correlate import latest_per_key

    updates = with_audit_date(updates, ts_col)
    dates = [r.audit_date for r in updates.select("audit_date").distinct().collect()]
    import os

    if any(os.path.exists(os.path.join(table_path, f"audit_date={d}"))
           for d in dates):
        current = (
            spark.read.parquet(table_path)
            .filter(F.col("audit_date").isin(dates))
            .drop("audit_date")
        )
        merged = with_audit_date(
            current.unionByName(updates.drop("audit_date")), ts_col)
        if merge_key is not None:
            merged = latest_per_key(merged, merge_key, ts_col, list(tiebreaks))
    else:
        merged = updates
    _dynamic_overwrite(spark, merged.repartition(F.col("audit_date")), table_path)


def scd2_apply(history: DataFrame, updates: DataFrame, key: str,
               ts_col: str) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: apply an update batch to a
    versioned history table, closing superseded versions and opening new
    current ones.

    ``history`` carries the key, the tracked attributes, and
    ``valid_from`` / ``valid_to`` timestamps (``valid_to IS NULL`` =
    current version).  ``updates`` carries the key, the same attributes,
    and ``ts_col`` (the change's effective time).  Several updates to one
    key in a single batch are chained in ``ts_col`` order.

    Late-arriving updates are handled: an affected key's WHOLE version
    chain (closed versions included) re-windows, so an update effective
    before an already-closed boundary splices in correctly instead of
    corrupting the chain — (key, effective time) must be unique across
    history+batch, as in any SCD-2 store.  (The weaker open-rows-only
    variant silently mis-chains exactly that case; the property test in
    tests/test_properties.py replays random split points to pin it.)

    Scale shape: keys untouched by the batch pass through with one
    broadcast anti join (the update batch's key set is small); only the
    affected keys' versions re-window, partitioned by key — state per
    task is one key's version chain, never the table.  Persist the
    result with ``upsert_by_partition``-style dynamic overwrite when the
    history is date-partitioned on ``valid_from``.  Row-level MERGE on
    mutable storage (the reference's UPDATE, ``processQueue.ts:230-238``)
    becomes this union + window on immutable parquet."""
    affected = updates.select(key).distinct()
    untouched = history.join(F.broadcast(affected), key, "left_anti")
    touched = history.join(F.broadcast(affected), key, "inner").drop("valid_to")
    incoming = updates.withColumnRenamed(ts_col, "valid_from")
    w = Window.partitionBy(key).orderBy("valid_from")
    reversioned = (
        touched.unionByName(incoming)
        .withColumn("valid_to", F.lead("valid_from").over(w))
    )
    return untouched.unionByName(reversioned)


def apply_cdc(history: DataFrame, changes: DataFrame, key: str,
              seq_col: str, op_col: str = "op") -> DataFrame:
    """Apply a CDC batch (insert/update/delete ops) to a snapshot table.

    ``changes`` rows carry the key, a monotone ``seq_col`` (commit LSN /
    kafka offset — total order per key), ``op_col`` in {'I','U','D'},
    and the full payload.  Net effect per key = the row with the
    highest sequence: I/U upsert that payload, D removes the key —
    out-of-order arrivals within the batch collapse correctly because
    selection is by sequence, not arrival.

    This is the Debezium-style bronze->silver applier on immutable
    parquet: untouched keys stream through one broadcast anti join
    (the change batch's key set is small relative to the table), the
    winning change per key is one max-of-struct aggregate (no window,
    no sort — the same trick as operators/correlate.py), and the
    result unions.  Persist with dynamic partition overwrite when the
    snapshot is partitioned.  The reference's row-level UPDATE
    (src/lambda/processQueue.ts:230-238) is the I/U half of this with
    no ordering and no deletes."""
    payload = [c for c in changes.columns if c not in (key, seq_col, op_col)]
    winner = (
        changes
        .groupBy(key)
        .agg(F.max(F.struct(seq_col, op_col, *payload)).alias("w"))
        .select(key, F.col(f"w.{op_col}").alias(op_col),
                *[F.col(f"w.{c}").alias(c) for c in payload])
    )
    untouched = history.join(
        F.broadcast(winner.select(key)), key, "left_anti")
    upserts = winner.filter(F.col(op_col) != "D").drop(op_col)
    return untouched.unionByName(upserts)


def scd2_as_of(history: DataFrame, as_of) -> DataFrame:
    """Point-in-time read of an SCD-2 history: the one version of each
    key that was current at ``as_of`` (valid_from <= as_of < valid_to,
    open rows unbounded above).  This is the dimension side of a
    reproducible training snapshot — joining facts against
    ``scd2_as_of(dim, cutoff)`` replays exactly the attributes a past
    run saw, where joining the live dimension leaks future updates.
    Map-only: two scan-pushed range predicates, no shuffle, no window —
    the version chain already encodes the validity intervals."""
    ts = F.lit(as_of).cast("timestamp_ntz") if isinstance(as_of, str) else F.lit(as_of)
    return history.filter(
        (F.col("valid_from") <= ts)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    )


def publish_if_valid(df: DataFrame, path: str,
                     rules: dict[str, "F.Column"]) -> dict[str, int]:
    """Write-audit-publish: stage the dataset, evaluate every expectation
    rule in ONE pass over the staged copy, and only then promote it to
    ``path``.  Returns the violation count per rule; raises ValueError
    (leaving the previous published data untouched, staged copy kept for
    forensics) if any rule fails.

    Rules map name -> boolean Column that flags a VIOLATING row.  The
    audit reads the staged parquet, not the input plan, so what is
    validated is byte-for-byte what gets published.  Promotion is a
    directory swap — atomic on a filesystem; on object stores the rename
    is copy-based, so at real scale the promote step becomes a
    table-format transaction commit (the audit stage is unchanged).
    """
    import shutil

    staging = path.rstrip("/") + ".staging"
    df.write.mode("overwrite").parquet(staging)
    staged = df.sparkSession.read.parquet(staging)
    counts = staged.agg(*[
        F.sum(F.when(cond, 1).otherwise(0)).alias(name)
        for name, cond in rules.items()
    ]).collect()[0].asDict()
    if any(v for v in counts.values()):
        raise ValueError(f"audit failed, not publishing: {counts}")
    shutil.rmtree(path, ignore_errors=True)
    shutil.move(staging, path)
    return counts


def diff_tables(before: DataFrame, after: DataFrame, key: str) -> DataFrame:
    """Reconciliation diff of two snapshots keyed by ``key``:
    (key, status) with status in {'added', 'removed', 'changed'} —
    unchanged rows are omitted.

    One full-outer join on the key; non-key columns compare as a single
    packed struct (null-safe, so NULL attribute values diff correctly).
    At scale both sides shuffle once on the key — for repeated
    reconciliation of bucketed tables the shuffle disappears entirely
    (tests/test_bucketing.py shows the layout).  This is how a migration
    to this engine is verified against the system it replaces."""
    cols = [c for c in before.columns if c != key]
    assert [c for c in after.columns if c != key] == cols, "schema mismatch"
    a = before.select(F.col(key).alias("k_a"),
                      F.struct(*cols).alias("payload_a"))
    b = after.select(F.col(key).alias("k_b"),
                     F.struct(*cols).alias("payload_b"))
    j = a.join(b, F.col("k_a") == F.col("k_b"), "full_outer")
    status = (
        F.when(F.col("k_a").isNull(), "added")
        .when(F.col("k_b").isNull(), "removed")
        .when(~F.col("payload_a").eqNullSafe(F.col("payload_b")), "changed")
    )
    return (
        j.select(F.coalesce(F.col("k_a"), F.col("k_b")).alias(key),
                 status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


def compact_partitions(spark: SparkSession, table_path: str) -> int:
    """Small-file compaction: rewrite each date partition into one file
    per shuffle task holding that date (one file per date after AQE
    coalescing).  Streaming appends accumulate one file per micro-batch
    per date — at 100 TB the file COUNT, not the byte count, kills scan
    planning and S3 listing.  Dynamic partition overwrite replaces each
    partition atomically; returns the number of partitions rewritten.

    The compacted files carry the ``transaction_id`` bloom filter, sized
    to the row count of the largest date rewritten (the same one job that
    counts the dates counts their rows)."""
    df = spark.read.parquet(table_path)
    if "audit_date" not in df.columns:
        raise ValueError(f"{table_path} is not audit_date-partitioned")
    rows = df.groupBy("audit_date").count().collect()
    options = {}
    if rows and BLOOM_COL in df.columns:
        options = {
            f"parquet.bloom.filter.enabled#{BLOOM_COL}": "true",
            f"parquet.bloom.filter.expected.ndv#{BLOOM_COL}":
                str(max(r["count"] for r in rows)),
        }
    _dynamic_overwrite(spark, df.repartition(F.col("audit_date")), table_path,
                       options)
    return len(rows)


def _dynamic_overwrite(spark: SparkSession, df: DataFrame, path: str,
                       options: dict[str, str] | None = None) -> None:
    """overwrite mode=dynamic: only partitions present in `df` are
    replaced; everything else on disk survives.

    Scoped with the PER-WRITE option, never the session conf: a session
    save/set/restore dance (the previous form) both leaked "dynamic"
    into later plain overwrites when the conf had been unset (conf.get
    returns None there, skipping the restore) and raced concurrent
    writers in other threads for the duration of the write — the
    per-write option has neither failure mode, and is the same pattern
    streaming/enrich.py and vector_index.py already use."""
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .options(**(options or {}))
     .partitionBy("audit_date").parquet(path))


def zorder_key(cols: list, mins: list, maxs: list, bits: int = 16):
    """Z-order (Morton) key: bit-interleave the range-normalized values of
    ``cols`` so that rows close in EVERY dimension get close keys.  Pure
    column expressions (shift/mask/or) — whole-stage codegen, no UDF.

    Normalization is linear min/max to ``bits`` levels; for heavily skewed
    dimensions substitute quantile edges for ``mins``/``maxs`` upstream
    (the interleave is agnostic to how bucket ids were produced)."""
    ndims = len(cols)
    quant = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = max(float(hi) - float(lo), 1.0)
        scale = (2**bits - 1) / span
        quant.append(
            F.least(
                F.lit(2**bits - 1),
                F.greatest(
                    F.lit(0),
                    ((c.cast("double") - float(lo)) * scale).cast("long"),
                ),
            )
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, v in enumerate(quant):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ndims + d))
    return z


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   n_files: int = 32, bits: int = 16,
                   mode: str = "overwrite") -> None:
    """Z-order-clustered parquet layout: multi-column data skipping,
    the lakehouse replacement for a multi-column secondary index (O-48
    beyond what single-column sort gives).

    A layout sorted by one column has tight min/max stats on THAT column
    only — every file still spans the full domain of the second filter
    column, so a conjunctive predicate prunes on one dimension at best
    (the reference kept five separate B-trees for exactly this reason,
    ``src/scripts/setup-db.ts:72-78``).  Clustering by the interleaved
    key gives every file a small bounding box in ALL ``cols``, so parquet
    row-group/file min-max stats prune multiplicatively.

    Pipeline: one agg pass for min/max -> map-side key computation ->
    ``repartitionByRange`` on the key (range exchange with sampling — the
    only shuffle) -> sort within partitions -> one file per task.  Scales
    linearly; no global sort, no driver-side data."""
    zcols = [F.col(c) for c in cols]
    stats = df.agg(*[f(c) for c in cols for f in (F.min, F.max)]).first()
    mins, maxs = list(stats[0::2]), list(stats[1::2])
    z = zorder_key(zcols, mins, maxs, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode).parquet(path)
    )


def write_sharded(df: DataFrame, path: str, shard_key: str,
                  n_shards: int = 16, fmt: str = "json") -> None:
    """Training-shard export: deterministic hash-bucketed shards.

    ``shard = pmod(xxhash64(key), n)`` gives reproducible, evenly-sized,
    key-stable shards (all records of one document land together);
    ``repartition(shard)`` makes exactly one task own each shard so the
    output is one file per shard directory, ready for a dataloader to
    consume shard-parallel."""
    shard = F.pmod(F.xxhash64(F.col(shard_key)), F.lit(n_shards)).alias("shard")
    out = df.withColumn("shard", shard).repartition(F.col("shard"))
    out.write.mode("overwrite").partitionBy("shard").format(fmt).save(path)


def missing_partitions(spark: SparkSession, path: str,
                       expected: list[str],
                       part_col: str = "audit_date") -> list[str]:
    """Backfill planner: which of ``expected`` partition values have no
    directory under ``path`` yet.  Listing-only (no data read) — the
    check an orchestrator runs before scheduling a date-range backfill,
    and after it to prove completeness.  Returns values in the order
    given.

    Listing goes through the Hadoop FileSystem API resolved FROM the
    path (local fs, HDFS, s3a://, abfss:// — whatever the deployment
    mounts), not ``os.listdir``: the r2 form silently reported every
    partition missing on an object store.  Partition dir names are
    Hive-escaped by the writer; date-typed values (the intended use)
    round-trip unescaped."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    present = set()
    if fs.exists(hpath):
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if name.startswith(f"{part_col}="):
                present.add(name.split("=", 1)[1])
    return [v for v in expected if str(v) not in present]


def write_jdbc_batch(df: DataFrame, url: str, table: str, *,
                     mode: str = "append", batchsize: int = 100,
                     driver: str | None = None,
                     max_connections: int | None = None) -> None:
    """O-8's optional RDBMS branch (the reference's transactional batch
    insert, ``src/lambda/processQueue.ts:179-190``, batch size 100):
    JDBC sink with ``batchsize`` rows per executeBatch round-trip.

    Every partition opens ONE connection and streams its rows in
    batches; ``max_connections`` coalesces first so a 10 000-partition
    fact frame cannot open 10 000 simultaneous connections against the
    database — at 100 TB the DB, not Spark, is the bottleneck, so cap
    writers to what the DB's pool actually serves."""
    out = df
    if max_connections is not None:
        out = out.coalesce(max_connections)
    w = (out.write.format("jdbc")
         .option("url", url)
         .option("dbtable", table)
         .option("batchsize", str(batchsize)))
    if driver:
        w = w.option("driver", driver)
    w.mode(mode).save()


def read_jdbc(spark: SparkSession, url: str, table: str, *,
              driver: str | None = None) -> DataFrame:
    """Read-back side of :func:`write_jdbc_batch` (round-trip parity is
    pinned in tests/test_jdbc_roundtrip.py against embedded Derby)."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        r = r.option("driver", driver)
    return r.load()


def read_binary_dir(spark: SparkSession, path: str,
                    max_bytes: int = MAX_ATTACHMENT_BYTES,
                    glob: str | None = None) -> DataFrame:
    """O-2/O-5: binary attachment source -> (path, modificationTime,
    length, content: binary).  The reference's 5 MB multer cap becomes a
    filter on `length` — pushed to the file listing, so oversize blobs are
    never fetched."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).filter(F.col("length") <= max_bytes)


def advance_rollup(spark: SparkSession, new_slice: DataFrame,
                   rollup_path: str, group_cols: list[str],
                   agg_exprs: dict[str, str]) -> int:
    """Incremental rollup maintenance: fold ONLY the new data into a
    date-partitioned aggregate table, replacing just the dates the
    slice touches.

    ``new_slice`` is the newly-arrived raw data with an ``audit_date``
    column (typically one or a few dates); ``agg_exprs`` maps output
    column -> SQL aggregate over the slice (e.g. ``{"n": "count(*)",
    "total": "sum(value)"}``).  The slice is aggregated to
    (audit_date, *group_cols) grain; if the rollup already holds rows
    for a touched date (late data), the stored and fresh partial
    aggregates are RE-AGGREGATED together — which is why the supported
    aggregates are the decomposable ones (sum/count/min/max; wire
    avg as sum+count, count-distinct as the HLL sketch rollup in
    agg_hll_sketch).  Dynamic partition overwrite then replaces only
    the touched dates.

    This is the 100 TB posture for serving aggregates: history is
    NEVER rescanned — each advance costs one pass over the new slice
    plus a rollup-grain merge of the touched dates, so a year of
    hourly loads does a year of slice-sized work, not a year of
    table-sized work.  Returns the number of date partitions written."""
    import os  # noqa: PLC0415

    aggs = [F.expr(sql).alias(name) for name, sql in agg_exprs.items()]
    fresh = new_slice.groupBy("audit_date", *group_cols).agg(*aggs)

    touched = [r.audit_date for r in
               fresh.select("audit_date").distinct().collect()]
    if os.path.exists(rollup_path):
        stored = spark.read.parquet(rollup_path).filter(
            F.col("audit_date").isin(touched))
        merge_aggs = []
        for name, sql in agg_exprs.items():
            fn = sql.split("(", 1)[0].strip().lower()
            refold = {"count": "sum"}.get(fn, fn)  # counts re-fold by sum
            merge_aggs.append(F.expr(f"{refold}({name})").alias(name))
        fresh = (
            stored.unionByName(fresh)
            .groupBy("audit_date", *group_cols)
            .agg(*merge_aggs)
        )
    _dynamic_overwrite(
        spark, fresh.repartition(F.col("audit_date")), rollup_path)
    return len(touched)
