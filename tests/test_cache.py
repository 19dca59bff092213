"""Result-cache semantics: canonical keys, TTL expiry, LRU bound,
cache-aside service behavior."""

from __future__ import annotations

import pytest

from data_ingestion_system_spark.plans.cache import (
    CacheBackend,
    CachedSearchService,
    InMemoryLRUBackend,
    ResultCache,
    canonical_key,
)


def test_canonical_key_order_insensitive():
    a = canonical_key("audit", {"app_id": 7, "event_type": "click"})
    b = canonical_key("audit", {"event_type": "click", "app_id": 7})
    assert a == b
    assert canonical_key("audit", {"app_id": 8}) != a


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_ttl_expiry():
    clock = FakeClock()
    c = ResultCache(ttl_seconds=300, clock=clock)
    c.put("k", [1, 2])
    assert c.get("k") == [1, 2]
    clock.t = 299.9
    assert c.get("k") == [1, 2]
    clock.t = 300.1
    assert c.get("k") is None
    assert c.hits == 2 and c.misses == 1


def test_lru_eviction():
    c = ResultCache(max_entries=2)
    c.put("a", 1)
    c.put("b", 2)
    assert c.get("a") == 1  # refresh a
    c.put("c", 3)           # evicts b (least recent)
    assert c.get("b") is None
    assert c.get("a") == 1 and c.get("c") == 3


def test_get_or_run_and_invalidate():
    c = ResultCache()
    calls = []

    def run():
        calls.append(1)
        return "rows"

    assert c.get_or_run("k", run) == "rows"
    assert c.get_or_run("k", run) == "rows"
    assert len(calls) == 1
    c.invalidate_all()
    assert c.get_or_run("k", run) == "rows"
    assert len(calls) == 2


def test_cached_search_service(spark):
    executions = []

    def search_fn(filters):
        executions.append(dict(filters))
        return spark.range(3).toDF("id")

    svc = CachedSearchService(search_fn)
    r1 = svc.search({"a": 1, "b": 2})
    r2 = svc.search({"b": 2, "a": 1})  # key-order variant must HIT
    assert [row.id for row in r1] == [0, 1, 2]
    assert r1 == r2
    assert len(executions) == 1
    assert svc.cache.hits == 1 and svc.cache.misses == 1


class ExplodingCache(ResultCache):
    """Backend whose probe/fill fails (the Redis-down scenario)."""

    def __init__(self, fail_on="get", **kw):
        super().__init__(**kw)
        self.fail_on = fail_on

    def get(self, key):
        if self.fail_on == "get":
            raise ConnectionError("cache backend down")
        return super().get(key)

    def put(self, key, value):
        if self.fail_on == "put":
            raise ConnectionError("cache backend down")
        super().put(key, value)


def test_degraded_mode_serves_queries_and_self_disables(spark):
    """audit.services.ts:35-87 parity: a failing cache never fails the
    query — first error flips the service into cache-off mode."""
    executions = []

    def search_fn(filters):
        executions.append(dict(filters))
        return spark.range(2).toDF("id")

    svc = CachedSearchService(search_fn, cache=ExplodingCache(fail_on="get"))
    r1 = svc.search({"a": 1})
    assert [row.id for row in r1] == [0, 1]          # query served
    assert svc.cache_enabled is False                # self-disabled
    assert svc.cache_errors == 1
    r2 = svc.search({"a": 1})                        # no cache touched now
    assert r2 == r1 and len(executions) == 2
    assert svc.cache_errors == 1                     # no repeat probing

    # re-arm ("reconnect"): works again without errors on a healthy path
    svc.cache = ResultCache()
    svc.enable_cache()
    svc.search({"a": 1})
    svc.search({"a": 1})
    assert len(executions) == 3 and svc.cache.hits == 1


def test_degraded_mode_on_fill_failure(spark):
    executions = []

    def search_fn(filters):
        executions.append(dict(filters))
        return spark.range(1).toDF("id")

    svc = CachedSearchService(search_fn, cache=ExplodingCache(fail_on="put"))
    r1 = svc.search({"x": 9})                        # probe misses, fill dies
    assert [row.id for row in r1] == [0]
    assert svc.cache_enabled is False and svc.cache_errors == 1


@pytest.mark.parametrize("fail_on", ["get", "put"])
def test_versioned_degraded_mode(spark, tmp_path, fail_on):
    """The versioned service shares the degraded mode: a failing probe
    or fill serves the snapshot's rows and turns the cache off."""
    from data_ingestion_system_spark.plans.cache import (
        VersionedSearchService,
    )
    from data_ingestion_system_spark.sources.versioned import commit_snapshot

    root = str(tmp_path / "t")
    commit_snapshot(spark.range(3).toDF("id"), root)
    runs = []

    def search_fn(snap, filters):
        runs.append(dict(filters))
        return snap.filter(snap.id >= filters["min_id"]).orderBy("id")

    svc = VersionedSearchService(spark, root, search_fn,
                                 cache=ExplodingCache(fail_on=fail_on))
    r1 = svc.search({"min_id": 1})
    assert [row.id for row in r1] == [1, 2]
    assert svc.cache_enabled is False and svc.cache_errors == 1
    assert svc.search({"min_id": 1}) == r1 and len(runs) == 2
    assert svc.cache_errors == 1                     # no repeat probing


class FakeRedisBackend(CacheBackend):
    """Test double for the reference's Redis slot: server-side TTL
    (SET key value EX ttl), no client-side eviction, FLUSHALL clear.
    Records every call so the swap is provable."""

    def __init__(self, clock):
        self.clock = clock
        self.kv: dict = {}
        self.calls: list = []

    def get(self, key):
        self.calls.append(("GET", key))
        entry = self.kv.get(key)
        if entry is None:
            return None
        expires_at, value = entry
        if self.clock() >= expires_at:       # server-side expiry
            del self.kv[key]
            return None
        return value

    def set(self, key, value, ttl_seconds):
        self.calls.append(("SET", key, ttl_seconds))
        self.kv[key] = (self.clock() + ttl_seconds, value)

    def clear(self):
        self.calls.append(("FLUSHALL",))
        self.kv.clear()


def test_backend_swap_preserves_cache_semantics():
    """ResultCache policy (TTL length, hit/miss counters, run-on-miss)
    is backend-agnostic: the Redis-shaped double passes the same TTL /
    invalidate / get_or_run contract as the in-driver default."""
    clock = FakeClock()
    be = FakeRedisBackend(clock)
    c = ResultCache(ttl_seconds=300, backend=be)
    c.put("k", [1, 2])
    assert ("SET", "k", 300) in be.calls             # TTL handed to store
    assert c.get("k") == [1, 2]
    clock.t = 300.1
    assert c.get("k") is None                        # server-side expiry
    assert c.hits == 1 and c.misses == 1

    calls = []
    assert c.get_or_run("q", lambda: calls.append(1) or "rows") == "rows"
    assert c.get_or_run("q", lambda: calls.append(1) or "rows") == "rows"
    assert len(calls) == 1
    c.invalidate_all()
    assert ("FLUSHALL",) in be.calls
    assert c.get("q") is None


def test_backend_swap_through_the_service(spark):
    """End-to-end through CachedSearchService: same hit behavior on the
    swapped backend, and degraded mode still triggers if the swapped
    backend dies."""
    clock = FakeClock()
    svc = CachedSearchService(
        lambda f: spark.range(2).toDF("id"),
        cache=ResultCache(backend=FakeRedisBackend(clock)))
    r1 = svc.search({"a": 1})
    r2 = svc.search({"a": 1})
    assert r1 == r2 and svc.cache.hits == 1

    class DyingBackend(CacheBackend):
        def get(self, key):
            raise ConnectionError("down")

    svc2 = CachedSearchService(
        lambda f: spark.range(1).toDF("id"),
        cache=ResultCache(backend=DyingBackend()))
    assert [r.id for r in svc2.search({"a": 1})] == [0]
    assert svc2.cache_enabled is False


def test_default_backend_is_in_memory_lru():
    c = ResultCache(max_entries=7)
    assert isinstance(c.backend, InMemoryLRUBackend)
    assert c.backend.max_entries == 7


def test_versioned_search_precise_freshness(spark, tmp_path):
    """Version-stamped keys (r6 verdict #6): a cached result SURVIVES an
    unrelated table's commit, goes stale precisely when its OWN table
    commits a new version (stranded key, no writer-side flush), and
    time-travel probes cache independently against their pinned
    version."""
    from pyspark.sql import functions as F

    from data_ingestion_system_spark.plans.cache import (
        VersionedSearchService,
    )
    from data_ingestion_system_spark.sources import versioned as V

    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")

    def df(rows):
        return spark.createDataFrame(
            [(int(i), f"u{i}") for i in rows], "id long, name string")

    V.commit_snapshot(df([1, 2, 3]), root_a)          # a@v1
    V.commit_snapshot(df([9]), root_b)                # b@v1

    runs = []

    def search_fn(snap, filters):
        runs.append(dict(filters))
        return (snap.filter(F.col("id") >= filters["min_id"])
                .orderBy("id").select("id", "name"))

    svc = VersionedSearchService(spark, root_a, search_fn)
    first = svc.search({"min_id": 2})
    assert [r.id for r in first] == [2, 3] and len(runs) == 1
    assert svc.search({"min_id": 2}) == first and len(runs) == 1  # hit

    # unrelated table commits: entry keeps serving (no flush anywhere)
    V.commit_snapshot(df([8, 9]), root_b)
    assert svc.search({"min_id": 2}) == first and len(runs) == 1

    # own table commits: key version bumps, stale entry unreachable
    V.commit_snapshot(df([2, 3, 4]), root_a)          # a@v2
    fresh = svc.search({"min_id": 2})
    assert [r.id for r in fresh] == [2, 3, 4] and len(runs) == 2

    # time travel: as_of_version=1 resolves to the SAME key the head
    # probe used while v1 was current, so the immutable entry is
    # REUSED (no re-run) — and the head entry is untouched
    old = svc.search({"min_id": 2}, as_of_version=1)
    assert [r.id for r in old] == [2, 3] and len(runs) == 2
    assert svc.search({"min_id": 2}) == fresh and len(runs) == 2
