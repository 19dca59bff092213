"""Query-result cache (O-32) + table persist helpers (O-33).

The reference caches collected search results in Redis, keyed
``audit:{JSON.stringify(filters)}`` with a 300 s TTL, cache-aside
(``src/services/audit.services.ts:12,35-103,169``).  Spark caches
*datasets*, not cross-query results, so this is the one engine component
built above the plan in plain Python.

Two deliberate fixes over the reference:

* **canonical keys** — the reference keys on insertion-order JSON, so
  ``{a,b}`` vs ``{b,a}`` are distinct entries (a latent miss bug,
  ``audit.services.ts:94``).  We sort keys.
* **bounded memory** — LRU eviction on top of TTL; Redis got this from
  maxmemory policy, an in-driver dict must do it itself.

Scale posture: the cache holds collected *top-k results* (<=100 rows per
entry — the reference's LIMIT), never DataFrames or full tables; the base
table is shared via ``persist()`` (one copy per executor memory/disk,
O-33), not via this cache.
"""

from __future__ import annotations

import json
import time
from collections import OrderedDict
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Row

DEFAULT_TTL_SECONDS = 300.0  # audit.services.ts:12
DEFAULT_MAX_ENTRIES = 1024


def canonical_key(prefix: str, filters: Mapping[str, Any]) -> str:
    """Order-insensitive, type-stable cache key."""
    return prefix + ":" + json.dumps(filters, sort_keys=True, default=str)


class CacheBackend:
    """Storage contract behind ``ResultCache`` — the reference's Redis
    slot (``audit.services.ts:35-103``).

    Three methods, shaped like every external KV store's client
    (GET / SET-with-TTL / FLUSH): ``get`` returns the live value or
    None (the backend owns expiry — Redis does TTL server-side),
    ``set`` stores under a per-entry TTL, ``clear`` drops everything
    (the streaming-append freshness hook).  Eviction policy is also the
    backend's business: the in-driver default does LRU itself; Redis
    gets it from maxmemory policy.  Implementations may raise — the
    service layer's degraded mode catches and self-disables."""

    def get(self, key: str) -> Any | None:
        raise NotImplementedError

    def set(self, key: str, value: Any, ttl_seconds: float) -> None:
        raise NotImplementedError

    def clear(self) -> None:
        raise NotImplementedError


@dataclass
class InMemoryLRUBackend(CacheBackend):
    """Default backend: in-driver dict with TTL + LRU eviction (Redis
    got bounded memory from maxmemory policy; a dict must do it
    itself).  Single-driver deployments need nothing more; swap in a
    shared-store backend when multiple drivers must share the cache
    (SCALING.md's known concession)."""

    max_entries: int = DEFAULT_MAX_ENTRIES
    clock: Callable[[], float] = time.monotonic
    _store: OrderedDict = field(default_factory=OrderedDict)

    def get(self, key: str) -> Any | None:
        entry = self._store.get(key)
        if entry is None:
            return None
        expires_at, value = entry
        if self.clock() >= expires_at:
            del self._store[key]
            return None
        self._store.move_to_end(key)
        return value

    def set(self, key: str, value: Any, ttl_seconds: float) -> None:
        self._store[key] = (self.clock() + ttl_seconds, value)
        self._store.move_to_end(key)
        while len(self._store) > self.max_entries:
            self._store.popitem(last=False)

    def clear(self) -> None:
        self._store.clear()


class ResultCache:
    """TTL cache-aside for collected query results, storage-pluggable.

    Policy (TTL length, hit/miss accounting, run-on-miss) lives here;
    storage (expiry enforcement, eviction) lives in the backend."""

    def __init__(self, ttl_seconds: float = DEFAULT_TTL_SECONDS,
                 max_entries: int = DEFAULT_MAX_ENTRIES,
                 clock: Callable[[], float] = time.monotonic,
                 backend: CacheBackend | None = None):
        self.ttl_seconds = ttl_seconds
        self.backend = backend if backend is not None else \
            InMemoryLRUBackend(max_entries=max_entries, clock=clock)
        self.hits = 0
        self.misses = 0

    def get(self, key: str):
        value = self.backend.get(key)
        if value is None:
            self.misses += 1
        else:
            self.hits += 1
        return value

    def put(self, key: str, value) -> None:
        self.backend.set(key, value, self.ttl_seconds)

    def get_or_run(self, key: str, run: Callable[[], Any]):
        cached = self.get(key)
        if cached is not None:
            return cached
        value = run()
        self.put(key, value)
        return value

    def invalidate_all(self) -> None:
        """Freshness hook: call when a streaming append lands in the base
        table (TTL alone serves stale top-k for up to ttl_seconds)."""
        self.backend.clear()


class CachedSearchService:
    """The reference's search endpoint shape: cache probe -> engine -> fill.

    ``search_fn(filters) -> DataFrame`` (a subclass's ``search`` may pass
    other arguments); results are collected (the driver of the reference
    does the same — rows go over the wire as JSON).

    **Degraded mode** (``audit.services.ts:35-87`` parity): a failing
    cache backend must never fail the query — on the first cache error
    the service self-disables the cache and serves every subsequent
    request straight from the engine; ``enable_cache()`` re-arms it
    (the reference re-arms on Redis reconnect)."""

    def __init__(self, search_fn: Callable[..., DataFrame],
                 cache: ResultCache | None = None):
        self._search = search_fn
        self.cache = cache or ResultCache()
        self.cache_enabled = True
        self.cache_errors = 0

    def enable_cache(self) -> None:
        self.cache_enabled = True

    def search(self, filters: Mapping[str, Any]) -> list[Row]:
        return self._serve(canonical_key("audit", filters),
                           lambda: self._search(filters).collect())

    def _serve(self, key: str, run: Callable[[], list[Row]]) -> list[Row]:
        """Probe ``key``; on a miss, ``run()`` and fill.  The first cache
        error turns the cache off (degraded mode)."""
        # broad catch: any backend error degrades to uncached serving, as
        # the reference's Redis path does (audit.services.ts:35-87)
        if self.cache_enabled:
            try:
                cached = self.cache.get(key)
            except Exception:
                self.cache_errors += 1
                self.cache_enabled = False  # self-disable, serve the query
            else:
                if cached is not None:
                    return cached
        value = run()
        if self.cache_enabled:
            try:
                self.cache.put(key, value)
            except Exception:
                self.cache_errors += 1
                self.cache_enabled = False
        return value


class VersionedSearchService(CachedSearchService):
    """Search served from a VERSIONED snapshot table, with the table
    version inside every cache key — precise freshness instead of
    ``invalidate_all()``.

    The r6 streaming hook flushed the whole cache on every streaming
    commit: correct, but it also evicts entries for TABLES THAT DID NOT
    CHANGE and needs the writer to know about every reader's cache.
    Stamping the key with ``(table root, committed version)`` inverts
    the dependency — the reader resolves the head version at probe time
    (``latest_version``: one O(1) directory listing, no record parse),
    so a new commit changes the key and every stale entry becomes
    unreachable (TTL/LRU reclaims it), while entries for other tables
    and for historical ``as_of_version`` reads keep serving.  Writers
    need no cache reference at all.

    ``search(filters, as_of_version=N)`` is time-travel search: the
    same plan over the pinned version's directories — "which exact rows
    did run X see" for the search surface itself, answerable as long as
    the version survives vacuum retention.  Historical versions are
    immutable, so those entries can never go stale; they share the one
    TTL policy anyway (bounded memory beats a special case).

    The search_fn receives ``(snapshot DataFrame, filters)`` — the
    service owns resolution, the caller owns the plan."""

    def __init__(self, spark, root: str,
                 search_fn: Callable[[DataFrame, Mapping[str, Any]],
                                     DataFrame],
                 cache: ResultCache | None = None):
        super().__init__(search_fn, cache=cache)
        self._spark = spark
        self._root = root

    def search(self, filters: Mapping[str, Any],
               as_of_version: int | None = None) -> list[Row]:
        from data_ingestion_system_spark.sources.versioned import (
            latest_version,
            read_snapshot,
        )

        version = (as_of_version if as_of_version is not None
                   else latest_version(self._root))
        key = canonical_key(f"audit@{self._root}@v{version}", filters)
        return self._serve(key, lambda: self._search(
            read_snapshot(self._spark, self._root, version), filters
        ).collect())
