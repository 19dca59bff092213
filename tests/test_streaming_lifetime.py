"""Lifetime (never-expiring) per-key state: running user profiles
accumulate across micro-batches, on the default state store and on
RocksDB."""

from __future__ import annotations

import json

import pytest

from data_ingestion_system_spark.streaming.lifetime import lifetime_profiles

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_CHANGELOG_CONF = ("spark.sql.streaming.stateStore.rocksdb."
                   "changelogCheckpointing.enabled")


def _run_batch(spark, landing, ckpt, out, rows, i):
    (landing / f"b{i}.json").write_text(
        "\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema("user_id long, value double").json(
        str(landing))

    def sink(batch_df, batch_id):
        from pyspark.sql import functions as F
        batch_df.withColumn("batch_id", F.lit(batch_id)) \
            .write.mode("append").parquet(out)

    q = (lifetime_profiles(stream).writeStream.outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .foreachBatch(sink).start())
    assert q.awaitTermination(120), "micro-batch did not finish in 120s"
    return q


@pytest.fixture(params=[
    None,
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
], ids=["default", "rocksdb"])
def state_store(spark, request):
    """Run the test on the given state-store provider (None: Spark's
    default), restoring the session's settings afterwards.  RocksDB runs
    with changelog checkpointing, so a commit ships the delta, not a full
    snapshot."""
    old = {c: spark.conf.get(c, None)
           for c in (_PROVIDER_CONF, _CHANGELOG_CONF)}
    if request.param is not None:
        spark.conf.set(_PROVIDER_CONF, request.param)
        spark.conf.set(_CHANGELOG_CONF, "true")
    try:
        yield request.param
    finally:
        for conf, value in old.items():
            if value is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, value)


def test_lifetime_profiles_accumulate_across_batches(spark, state_store,
                                                     tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_batch(spark, landing, ckpt, out,
               [{"user_id": 1, "value": 10.0}, {"user_id": 1, "value": 5.0},
                {"user_id": 2, "value": 1.0}], 0)
    q = _run_batch(spark, landing, ckpt, out,
                   [{"user_id": 1, "value": 2.0},
                    {"user_id": 3, "value": 7.0}], 1)
    rows = {(r.batch_id, r.user_id): (r.n_events, r.total_value, r.max_value)
            for r in spark.read.parquet(out).collect()}
    assert rows[(0, 1)] == (2, 15.0, 10.0)
    assert rows[(0, 2)] == (1, 1.0, 1.0)
    # state carried: user 1's second-batch row includes batch-0 history
    assert rows[(1, 1)] == (3, 17.0, 10.0)
    assert rows[(1, 3)] == (1, 7.0, 7.0)
    # untouched key emits nothing in batch 1
    assert (1, 2) not in rows
    # the offset log records the provider the state operator ran on
    offsets = (tmp_path / "ckpt" / "offsets" / "0").read_text().splitlines()
    provider = json.loads(offsets[1])["conf"][_PROVIDER_CONF]
    assert provider == (state_store or "org.apache.spark.sql.execution."
                        "streaming.state.HDFSBackedStateStoreProvider")
    if state_store is not None:
        # the RocksDB store actually engaged, not just the conf
        metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        assert any(k.startswith("rocksdb") for k in metrics), metrics
