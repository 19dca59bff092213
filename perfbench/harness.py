"""What every workload shares: the work directory, the Spark application's
start and stop, repeated set-up, and the result record.

All files a run writes, Spark's scratch space and temporary files
included, go under ``perfbench/_work`` in the checkout.
"""

from __future__ import annotations

import os
import resource
import shutil
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.tracing import JobCounter, Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUP_REPS = 3


def work_dir(workload: str, seed: int) -> str:
    """A fresh directory for one run, with the process's temporary files
    pointed into it (set before the JVM starts, so Spark, its Python
    workers and the engine's ``tempfile`` users all inherit it)."""
    path = os.path.join(BENCH_DIR, "_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    tmp = os.path.join(path, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    return path


def start_spark(work: str):
    """A fresh Spark application on ``local[nproc]`` through the engine's
    own session builder; returns ``(spark, seconds)``."""
    from data_ingestion_system_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", cpus=os.cpu_count(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> float:
    """Stop the application and the JVM, wait for it, and return the peak
    resident set in MB of this process and the JVM (with its Python
    workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    peak_kb = max(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
                  resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss)
    return peak_kb / 1024


@dataclass
class Run:
    """State of one benchmark run: the session, tracing, operation
    accounting and the metrics collected so far."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str
    spark: object = None
    tracer: Tracer = None
    jobs: JobCounter = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list] = field(default_factory=lambda: defaultdict(list))

    @contextmanager
    def phase(self, name: str):
        """Log a phase's wall time to stderr, for reading a slow run."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            print(f"# {self.workload} {name}: {time.perf_counter() - t0:.2f}s",
                  file=sys.stderr, flush=True)

    def op_failed(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def check(self, errors: list[str]) -> None:
        """One attempted check; a non-empty error list fails it."""
        self.attempted += 1
        if errors:
            self.op_failed("; ".join(errors)[:500])

    def guarded(self, what: str, fn: Callable, *args):
        """Run one operation; a raise counts as a failed operation, with
        its traceback kept for the report, and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # the run goes on and reports the failure
            self.op_failed(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def setup(self, build: Callable[[int], object]) -> object:
        """Call ``build(rep)`` ``SETUP_REPS`` times and keep the last
        result.  ``setup_s`` is the session start plus the median
        repetition; ``session.warmup_s`` is what the first, cold
        repetition cost beyond that median."""
        times, result = [], None
        for rep in range(SETUP_REPS):
            with self.phase(f"setup {rep}"):
                t0 = time.perf_counter()
                result = build(rep)
                times.append(time.perf_counter() - t0)
        med = stats.median(times)
        self.e2e["setup_s"] = self.layer["session.start_s"] + med
        self.layer["session.warmup_s"] = max(0.0, times[0] - med)
        return result
