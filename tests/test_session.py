"""Session tuning: the file-listing job is capped at the core count,
``tune_session`` tolerates only the static-config error from ``conf.set``,
and a ``Catalog`` whose package ship fails raises when it is built."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException

from data_ingestion_system_spark import session
from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.session import tune_session
from data_ingestion_system_spark.sources.ingest import REQUEST_SCHEMA

_LISTING = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def test_listing_job_capped_at_core_count(spark, tmp_path):
    """A read over 100 paths (above Spark's 32-path serial threshold)
    lists them in a Spark job; with the cap that job runs at most one
    task per core, not one per path."""
    paths = []
    for i in range(100):
        p = tmp_path / f"req-{i}.json"
        p.write_text('{"transactionId": "t%d"}\n' % i)
        paths.append(str(p))
    sc = spark.sparkContext
    group = "test-listing-cap"
    sc.setJobGroup(group, group)
    try:
        # explicit schema, no action: only the listing runs
        spark.read.schema(REQUEST_SCHEMA).json(paths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    assert jobs, "100 paths should list in a parallel Spark job"
    for j in jobs:
        for sid in st.getJobInfo(j).stageIds:
            assert st.getStageInfo(sid).numTasks <= sc.defaultParallelism


def test_tune_session_caps_listing(spark):
    spark.conf.set(_LISTING, "10000")
    tune_session(spark)
    assert spark.conf.get(_LISTING) == str(spark.sparkContext.defaultParallelism)


class _RefusingConf:
    """A ``spark.conf`` whose every ``set`` fails with ``condition``."""

    def __init__(self, condition):
        self.condition = condition
        self.set_keys = []

    def set(self, key, value):
        self.set_keys.append(key)
        raise AnalysisException(message=key, errorClass=self.condition)


def _session(condition):
    return SimpleNamespace(conf=_RefusingConf(condition),
                           sparkContext=SimpleNamespace(defaultParallelism=4))


def test_tune_session_skips_static_conf():
    s = _session("CANNOT_MODIFY_STATIC_CONFIG")
    tune_session(s)
    assert _LISTING in s.conf.set_keys  # kept going past each refusal


def test_tune_session_raises_other_errors():
    with pytest.raises(AnalysisException):
        tune_session(_session("UNSUPPORTED_FEATURE"))


def test_catalog_raises_when_ship_fails(spark, sf_dir, monkeypatch):
    """Executors that cannot import the package fail every UDF later;
    the failure must surface where it happens."""
    def refuse(_spark):
        raise OSError("cannot write the package zip")

    monkeypatch.setattr(session, "ship_package", refuse)
    with pytest.raises(OSError, match="package zip"):
        Catalog(spark, sf_dir)
