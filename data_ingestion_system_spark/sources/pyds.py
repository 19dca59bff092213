"""Custom connector surface: a Python Data Source (Spark 4 API).

The reference's only true *source* is the HTTP boundary — Express hands
the middleware a stream of API-audit records
(``src/app.ts:11-12``, ``src/middleware/audit.middleware.ts:15-26``).
Files in a landing directory stand in for that boundary everywhere else
in this engine; this module models it the other way, as a first-class
pluggable connector: ``audit_http_log`` is a DataSource implemented in
pure Python that synthesizes the reference's audit-record shape
deterministically (seeded per partition), in both batch and
micro-batch-streaming form.

Why it matters at scale: the Python Data Source API is the supported
way to wrap ANY external system (internal REST feed, message bus,
proprietary store) as a parallel Spark source — ``partitions()``
defines the split points (one task per partition, so reads scale out
like any file scan), ``read(partition)`` runs executor-side, and
``pushFilters`` (Spark 4.1) lets the source drop rows at the origin
before they ever reach the plan.  The synthetic generator keeps the
connector deterministic for tests; swapping ``_gen_rows`` for real I/O
changes nothing structurally.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_ingestion_system_spark.session import set_runtime_conf

AUDIT_SCHEMA = StructType([
    StructField("transaction_id", StringType()),
    StructField("app_id", StringType()),
    StructField("endpoint", StringType()),
    StructField("action", StringType()),
    StructField("status_code", IntegerType()),
    StructField("ts_ms", LongType()),
])

_APPS = tuple(f"app_{i}" for i in range(8))
_ENDPOINTS = ("/api/test", "/api/users", "/api/orders", "/api/files")
_ACTIONS = ("create", "read", "update", "delete")
_BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z


def _gen_rows(partition: int, n: int, seed: int,
              app_filter: str | None) -> Iterator[tuple]:
    """Deterministic synthetic audit records for one partition.

    Pure function of (partition, n, seed) — the connector's contract is
    reproducibility, like a seeded fixture; a real connector would page
    through its shard of the external system here instead."""
    for i in range(n):
        h = (partition * 1_000_003 + i * 7919 + seed * 104_729) & 0x7FFFFFFF
        app = _APPS[h % len(_APPS)]
        if app_filter is not None and app != app_filter:
            continue  # source-side pushdown: the row never leaves the origin
        yield (
            f"txn-{partition}-{i}",
            app,
            _ENDPOINTS[(h >> 3) % len(_ENDPOINTS)],
            _ACTIONS[(h >> 5) % len(_ACTIONS)],
            (200, 200, 200, 201, 400, 404, 500)[(h >> 7) % 7],
            _BASE_MS + (partition * n + i) * 1000,
        )


class _AuditBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_parts = int(options.get("numpartitions", 4))
        self.rows = int(options.get("rowsperpartition", 100))
        self.seed = int(options.get("seed", 42))
        self.app_filter: str | None = None
        self.pushed: list = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Accept app_id equality; everything else stays in the plan.
        Spark re-applies nothing we claim — the contract is the source
        REALLY drops those rows (tested)."""
        remaining = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("app_id",):
                self.app_filter = f.value
                self.pushed.append(f)
            else:
                remaining.append(f)
        return remaining

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(i) for i in range(self.n_parts)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        return _gen_rows(partition.value, self.rows, self.seed, self.app_filter)


class _AuditStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch form: every trigger drains one fixed-size batch — the
    Spark-native analogue of the reference's 10-object/100 ms uploader
    loop (``src/services/s3.service.ts:69-106``).  Offsets are plain
    record counts, so restarts resume exactly (checkpoint-driven)."""

    def __init__(self, options: dict):
        self.rows = int(options.get("rowsperbatch", 20))
        self.seed = int(options.get("seed", 42))

    def initialOffset(self) -> dict:  # noqa: N802
        return {"offset": 0}

    def _rows_between(self, lo: int, hi: int) -> Iterator[tuple]:
        """Record = pure function of its ABSOLUTE stream index, so any
        offset range replays bit-identically (exactly-once on top of
        at-least-once delivery, same contract as a Kafka offset range)."""
        for idx in range(lo, hi):
            h = (idx * 7919 + self.seed * 104_729) & 0x7FFFFFFF
            yield (
                f"txn-s-{idx}",
                _APPS[h % len(_APPS)],
                _ENDPOINTS[(h >> 3) % len(_ENDPOINTS)],
                _ACTIONS[(h >> 5) % len(_ACTIONS)],
                (200, 200, 200, 201, 400, 404, 500)[(h >> 7) % 7],
                _BASE_MS + idx * 1000,
            )

    def read(self, start: dict):
        # materialized list, not a generator: the simple-stream API
        # pickles the batch rows from the driver-side prefetch
        lo = start["offset"]
        return (list(self._rows_between(lo, lo + self.rows)),
                {"offset": lo + self.rows})

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        return list(self._rows_between(start["offset"], end["offset"]))


class AuditHttpLogDataSource(DataSource):
    """``spark.read.format("audit_http_log")`` after registration."""

    @classmethod
    def name(cls) -> str:
        return "audit_http_log"

    def schema(self) -> StructType:
        return AUDIT_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _AuditBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:  # noqa: N802
        return _AuditStreamReader(self.options)


def register_audit_source(spark) -> None:
    """Idempotently register the connector with a session."""
    # runtime-settable; without it Spark refuses a reader that implements
    # pushFilters rather than silently skipping the pushdown.  Where a
    # session pins it, registration still works and the engine-side
    # filter applies regardless.
    set_runtime_conf(spark, "spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(AuditHttpLogDataSource)
