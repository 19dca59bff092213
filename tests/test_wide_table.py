"""Catalog.wide_table, the engine's one scan-widening decision: it widens
a single-row-group file however many byte-range splits the scan plans,
stays out of the way when the split estimate already covers the cores,
and fails loudly when the file behind a cached handle is gone."""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_ingestion_system_spark.catalog import Catalog
from data_ingestion_system_spark.operators.queries_multimodal import (
    _media_from_documents,
)


@contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_single_row_group_widens_despite_many_splits(spark, sf_dir,
                                                     tmp_path):
    """A low open cost makes the planner cut the one-row-group documents
    file into at least one byte-range split per core, so counting splits
    says "wide enough" — yet every row lands in one split.  The media
    scan must still get a round-robin exchange.

    The file is copied to a fresh path: a cached handle that earlier
    tests executed keeps the splits it planned then."""
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), tmp_path)
    cores = spark.sparkContext.defaultParallelism
    with _conf(spark, "spark.sql.files.openCostInBytes", "1k"):
        docs = Catalog(spark, str(tmp_path)).documents
        assert docs.rdd.getNumPartitions() >= cores
        per_split = (docs.groupBy(F.spark_partition_id().alias("p"))
                     .count().collect())
        assert len(per_split) == 1, per_split

        media = _media_from_documents(spark, str(tmp_path), parallel=True)
        plan = media._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan


def test_estimate_at_core_count_leaves_table_unchanged(spark, sf_dir):
    """size // maxPartitionBytes + 1 >= cores: the scan supplies the
    parallelism itself, so wide_table is table() verbatim."""
    cat = Catalog(spark, sf_dir)
    size = os.path.getsize(cat.path("documents"))
    max_split = size // spark.sparkContext.defaultParallelism
    with _conf(spark, "spark.sql.files.maxPartitionBytes", str(max_split)):
        assert cat.wide_table("documents") is cat.table("documents")


def test_missing_file_behind_cached_handle_raises(spark, tmp_path):
    """The plan-shape decision does not fall back silently: a file removed
    after table() cached its handle fails at wide_table, not at scan."""
    path = tmp_path / "documents.parquet"
    pd.DataFrame({"doc_id": [1], "text": ["a b c"]}).to_parquet(path)
    cat = Catalog(spark, str(tmp_path))
    cat.table("documents")
    path.unlink()
    with pytest.raises(FileNotFoundError):
        cat.wide_table("documents")
