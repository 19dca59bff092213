"""SparkSession bootstrap.

Local-mode testing runs on ``local[N]`` (one JVM); production posture is a
multi-executor cluster reading ~100 TB, so every knob here is chosen to be
correct at both scales:

* AQE on (runtime partition coalescing + skew-join splitting) so plans
  re-shape themselves at real data volumes.
* ``spark.sql.shuffle.partitions`` defaults to ~cores locally; on a real
  cluster AQE's coalescing makes the initial number mostly moot.
* UTC session timezone — the DuckDB oracle compares timestamps as
  UTC-naive values.
* Arrow enabled for every pandas interchange (Pandas UDFs are the only
  sanctioned Python hot path).
* File listing runs at most one task per core.  Above 32 paths Spark lists
  in a parallel job with one task per path (up to 10000); the streaming
  file source re-lists each micro-batch's objects that way, so a batch of
  200 one-record objects would run 200 tasks on 4 cores.  Capping
  ``spark.sql.sources.parallelPartitionDiscovery.parallelism`` at the
  core count keeps the job parallel on a cluster and drops the per-task
  overhead; lists of 32 paths or fewer still list serially on the driver.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# every measurement entry point takes its cores from here: the host's
# cores available to this process unless SPARK_GRAFT_CPUS says otherwise
DEFAULT_CPUS = (os.environ.get("SPARK_GRAFT_CPUS")
                or str(len(os.sched_getaffinity(0))))
_LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
# what conf.set raises for a key that cannot change after start-up
_STATIC_CONF_ERRORS = ("CANNOT_MODIFY_STATIC_CONFIG", "CANNOT_MODIFY_CONFIG")


def get_spark(app_name: str = "data_ingestion_system_spark",
              cpus: str | int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Driver-provided sessions (``__spark_entry__.entry``) bypass this; the
    tuning below is also applied lazily per-query where it matters
    (broadcast hints, repartition) so the engine behaves on any session.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config(_LISTING_PARALLELISM, cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # ContextCleaner only reclaims shuffle files / broadcasts after a
        # DRIVER GC; the default periodicGC.interval (30min) never fires
        # within a bench/driver run, so hundreds of query executions
        # accumulate state and inflate later queries ~2x (measured:
        # graph_pagerank 2.5s isolated vs 6.4s late in a 143-query run)
        .config("spark.cleaner.periodicGC.interval", "45s")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make the engine importable by executor Python workers.

    Closures handed to mapInPandas/pandas_udf reference functions in this
    package by module path; workers unpickle them and must import it.  On
    a real cluster the package ships as a ``--py-files`` zip — this is the
    runtime equivalent (``sc.addPyFile``), and it also covers a local
    driver whose cwd/sys.path doesn't contain the repo (the grading
    driver's session).  Zip name is content-hashed: idempotent re-adds,
    and edits during a long-lived session get a fresh file."""
    import hashlib
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                sources.append((full, arc))
    digest = hashlib.md5()
    for full, arc in sources:
        digest.update(arc.encode())
        with open(full, "rb") as f:
            digest.update(f.read())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full, arc in sources:
                zf.write(full, arc)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    _SHIPPED.add(sc.applicationId)


def set_runtime_conf(spark: SparkSession, key: str, value: str) -> None:
    """``spark.conf.set`` on a session we may not have created: a key that
    cannot change after start-up (a static config such as driver memory)
    is left alone; any other failure raises."""
    try:
        spark.conf.set(key, value)
    except AnalysisException as e:
        if e.getCondition() not in _STATIC_CONF_ERRORS:
            raise


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our tuning to a session we did
    not create (e.g. the one `__spark_entry__.entry` receives)."""
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        _LISTING_PARALLELISM: str(spark.sparkContext.defaultParallelism),
    }.items():
        set_runtime_conf(spark, k, v)
    return spark

