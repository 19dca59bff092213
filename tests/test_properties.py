"""Property-based tests (hypothesis): operator semantics validated
against independent reference implementations on adversarial inputs.
Spark round-trips are batched per example via small deadline-free
settings; pure-Python components get full randomized treatment."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_ingestion_system_spark.operators.correlate import latest_per_key
from data_ingestion_system_spark.operators.search import conjunctive_filter
from data_ingestion_system_spark.plans.cache import ResultCache, canonical_key

SPARK_SETTINGS = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),          # key
        st.integers(min_value=0, max_value=10),         # order
        st.integers(min_value=0, max_value=10),         # tiebreak
        st.integers(min_value=-100, max_value=100),     # payload
    ),
    min_size=1, max_size=40,
)


@SPARK_SETTINGS
@given(rows=rows_strategy)
def test_latest_per_key_matches_window_formulation(spark, rows):
    """The max(struct) aggregation must pick exactly the row the
    row_number()-over-desc-window formulation picks, for any data whose
    (order, tiebreak, payload) chain totally orders rows within a key."""
    df = spark.createDataFrame(rows, ["k", "o", "t", "p"])
    got = {
        (r.k, r.o, r.t, r.p)
        for r in latest_per_key(df, "k", "o", ["t", "p"]).collect()
    }
    w = Window.partitionBy("k").orderBy(
        F.col("o").desc(), F.col("t").desc(), F.col("p").desc())
    expect = {
        (r.k, r.o, r.t, r.p)
        for r in df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).drop("__rn").collect()
    }
    assert got == expect


filters_strategy = st.dictionaries(
    st.sampled_from(["a", "b", "c"]),
    st.integers(min_value=0, max_value=3),
    max_size=3,
)


@SPARK_SETTINGS
@given(
    rows=st.lists(st.tuples(*[st.integers(0, 3)] * 3), min_size=0, max_size=30),
    filters=filters_strategy,
)
def test_conjunctive_filter_matches_python(spark, rows, filters):
    """AND-of-equalities == plain Python row filtering, incl. empty dict
    (full scan) and unsatisfiable combinations (empty result)."""
    df = spark.createDataFrame(rows, ["a", "b", "c"]) if rows else (
        spark.createDataFrame([], "a int, b int, c int"))
    got = sorted((r.a, r.b, r.c) for r in conjunctive_filter(df, filters).collect())
    expect = sorted(
        t for t in rows
        if all(t[{"a": 0, "b": 1, "c": 2}[k]] == v for k, v in filters.items())
    )
    assert got == expect


@given(
    ops=st.lists(
        st.tuples(st.sampled_from(["put", "get", "tick"]),
                  st.sampled_from(["k1", "k2", "k3", "k4"])),
        max_size=60,
    )
)
def test_cache_model(ops):
    """ResultCache vs a dict model: TTL expiry and LRU bound always agree."""
    t = [0.0]
    cache = ResultCache(ttl_seconds=10, max_entries=2, clock=lambda: t[0])
    model: dict[str, float] = {}   # key -> expiry
    lru: list[str] = []

    for op, key in ops:
        if op == "tick":
            t[0] += 6.0
        elif op == "put":
            cache.put(key, key + "v")
            model[key] = t[0] + 10
            if key in lru:
                lru.remove(key)
            lru.append(key)
            while len(lru) > 2:
                dead = lru.pop(0)
                model.pop(dead, None)
        else:
            got = cache.get(key)
            live = key in lru and model.get(key, -1) > t[0]
            if live:
                assert got == key + "v"
                lru.remove(key)
                lru.append(key)
            else:
                assert got is None
                if key in lru:   # expired entry: drop from model too
                    lru.remove(key)
                    model.pop(key, None)


@given(filters_strategy, filters_strategy)
def test_canonical_key_injective_on_content(f1, f2):
    """Keys collide iff the filter dicts are equal — order never matters."""
    k1, k2 = canonical_key("p", f1), canonical_key("p", f2)
    assert (k1 == k2) == (f1 == f2)


# --- SCD-2 merge vs sequential reference -------------------------------

# update stream: (key, effective_day, attr_value); days unique per key
# across the whole stream so the version chain is totally ordered
scd_stream = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # key
        st.integers(min_value=1, max_value=28),    # effective day
        st.integers(min_value=0, max_value=99),    # attr payload
    ),
    min_size=1, max_size=16,
).map(lambda rows: list({(k, d): (k, d, v) for k, d, v in rows}.values()))


@SPARK_SETTINGS
@given(stream=scd_stream, cut=st.integers(min_value=0, max_value=16))
def test_scd2_batched_equals_sequential(spark, stream, cut):
    """Applying an update stream in two arbitrary batches through
    scd2_apply yields exactly the version chains a sequential one-at-a-
    time reference versioner produces."""
    from datetime import datetime

    from data_ingestion_system_spark.sources.writers import scd2_apply

    day = lambda d: datetime(2024, 1, d)  # noqa: E731

    # python reference: replay updates one by one in time order
    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, d, v in sorted(stream, key=lambda r: (r[0], r[1])):
        by_key.setdefault(k, []).append((d, v))
    expect = {}
    for k, chain in by_key.items():
        chain.sort()
        for (d, v), nxt in zip(chain, chain[1:] + [None]):
            expect[(k, day(d), v)] = day(nxt[0]) if nxt else None

    empty = spark.createDataFrame(
        [], "k int, attr int, valid_from timestamp_ntz, valid_to timestamp_ntz")
    cut = min(cut, len(stream))
    hist = empty
    for batch in (stream[:cut], stream[cut:]):
        if not batch:
            continue
        # a batch must not contain two updates at the same (key, ts):
        # scd2_apply chains within a batch by ts only
        bdf = spark.createDataFrame(
            [(k, v, day(d)) for k, d, v in batch],
            "k int, attr int, ts timestamp_ntz")
        hist = scd2_apply(hist, bdf, "k", "ts").localCheckpoint()

    got = {(r.k, r.valid_from, r.attr): r.valid_to for r in hist.collect()}
    assert got == expect


words_strategy = st.lists(
    st.sampled_from([f"w{i}" for i in range(30)] + ["hot", "hot2"]),
    min_size=1, max_size=2000,
)


@settings(max_examples=200, deadline=None)
@given(words=words_strategy,
       k=st.integers(min_value=2, max_value=64),
       n_splits=st.integers(min_value=1, max_value=7))
def test_misra_gries_invariants(words, k, n_splits):
    """Pure MG merge core: <= k counters, every counter an
    underestimate, undercount bounded by n/k — hence no item above the
    n/k frequency bound can be missing, for any data and any batching."""
    import pandas as pd

    from data_ingestion_system_spark.operators.text import mg_reduce

    step = max(1, len(words) // n_splits)
    batches = [pd.Series(words[i:i + step])
               for i in range(0, len(words), step)]
    acc, n = mg_reduce(iter(batches), k)
    true = pd.Series(words).value_counts()

    assert n == len(words)
    assert len(acc) <= k
    for w, c in acc.items():
        assert c <= true[w]                       # never overestimates
        assert true[w] - c <= n / k               # bounded undercount
    for w, c in true.items():
        if c > n / k:
            assert w in acc.index                 # guarantee: HH present


# ---- CDC applier: Spark net-effect == sequential dict replay ----------

cdc_history = st.lists(
    st.tuples(st.integers(0, 6), st.integers(-50, 50)),
    min_size=0, max_size=8, unique_by=lambda t: t[0])
cdc_changes = st.lists(
    st.tuples(
        st.integers(0, 6),                      # key
        st.sampled_from(["I", "U", "D"]),       # op
        st.integers(-50, 50),                   # payload
    ),
    min_size=1, max_size=20)


@SPARK_SETTINGS
@given(hist=cdc_history, ops=cdc_changes)
def test_apply_cdc_equals_sequential_replay(spark, hist, ops):
    """apply_cdc's per-key max-sequence winner must equal replaying the
    ops one by one in sequence order against a dict."""
    from data_ingestion_system_spark.sources.writers import apply_cdc

    state = {k: v for k, v in hist}
    for k, op, v in ops:          # list order IS sequence order
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    history = spark.createDataFrame(
        [(k, v) for k, v in hist] or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    changes = spark.createDataFrame(
        [(k, i, op, v) for i, (k, op, v) in enumerate(ops)],
        "k long, seq long, op string, v long")
    got = {r["k"]: r["v"]
           for r in apply_cdc(history, changes, "k", "seq").collect()}
    assert got == state


# ---- PageRank: invariants on random undirected graphs -----------------

pr_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
        lambda t: t[0] != t[1]),
    min_size=1, max_size=15, unique=True)


@SPARK_SETTINGS
@given(edges=pr_edges)
def test_pagerank_mass_and_positivity(spark, edges):
    """On any undirected graph: ranks are positive, total mass == 1
    (every node's outflow lands somewhere, teleport fills the rest),
    and isolated-from-the-edge-list nodes simply don't appear."""
    from data_ingestion_system_spark.operators.queries_relational import (
        pagerank_iterate,
    )

    pairs = spark.createDataFrame(
        [(f"n{min(a, b)}", f"n{max(a, b)}") for a, b in edges],
        "a string, b string").distinct()
    rows = pagerank_iterate(pairs, iters=2).collect()
    total = sum(r["pr"] for r in rows)
    assert all(r["pr"] > 0 for r in rows)
    assert abs(total - 1.0) < 1e-9


join_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=4),     # key (few -> hot)
              st.integers(min_value=-50, max_value=50)),  # payload
    min_size=0, max_size=30,
)
dim_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=6),     # key (some absent)
              st.integers(min_value=-50, max_value=50)),  # attr
    min_size=0, max_size=8, unique_by=lambda t: t[0],
)


@SPARK_SETTINGS
@given(probe=join_rows, build=dim_rows, salt=st.integers(min_value=1, max_value=5))
def test_salted_join_equals_plain_join(spark, probe, build, salt):
    """Salting must be invisible in the RESULT: identical row multiset to
    the plain join for both inner and left, on adversarial inputs (hot
    keys, keys absent from the build side, empty relations, salt=1)."""
    from data_ingestion_system_spark.operators.skew import salted_join

    p = spark.createDataFrame(probe or [(0, 0)], "k int, v int")
    b = spark.createDataFrame(build or [(99, 0)], "k int, a int")
    if not probe:
        p = p.limit(0)
    if not build:
        b = b.limit(0)
    for how in ("inner", "left"):
        plain = sorted(map(tuple, p.join(b, "k", how).collect()))
        salted = sorted(map(tuple, salted_join(p, b, "k", salt=salt,
                                               how=how).collect()))
        assert salted == plain, (how, salt)


text_docs = st.lists(
    st.tuples(st.integers(min_value=0, max_value=99),
              st.sampled_from(["a b  c", "A b c", " a b c ", "x", "x ",
                               "", "a\tb\nc", "A  B C"])),
    min_size=1, max_size=20, unique_by=lambda t: t[0],
)


@SPARK_SETTINGS
@given(docs=text_docs)
def test_exact_dedup_survivors_reference(spark, docs):
    """Survivor set == min id per whitespace/case-normalized text, per an
    independent Python reference; idempotent on its own output."""
    import hashlib
    import re

    from data_ingestion_system_spark.operators.dedup import (
        exact_dedup_survivors,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_id"], r["fingerprint"])
           for r in exact_dedup_survivors(df, "doc_id", "text").collect()}

    ref = {}
    for i, t in docs:
        norm = re.sub(r"\s+", " ", t.strip().lower())
        ref.setdefault(norm, []).append(i)
    expected = {(min(ids), hashlib.md5(norm.encode()).hexdigest())
                for norm, ids in ref.items()}
    assert got == expected

    survivors = [i for i, _ in expected]
    twice = exact_dedup_survivors(
        df.join(spark.createDataFrame([(i,) for i in survivors],
                                      "doc_id long"), "doc_id", "left_semi"),
        "doc_id", "text").collect()
    assert {(r["doc_id"], r["fingerprint"]) for r in twice} == expected


# ---------------------------------------------------------------- AVI codec

_frame_strategy = st.lists(
    st.binary(min_size=0, max_size=64), min_size=0, max_size=6)


@settings(max_examples=200, deadline=None)
@given(frames=_frame_strategy,
       w=st.integers(min_value=1, max_value=64),
       h=st.integers(min_value=1, max_value=64),
       fps=st.integers(min_value=1, max_value=120))
def test_avi_mux_demux_roundtrip(frames, w, h, fps):
    """Any payload list survives mux -> demux byte-for-byte (MJPG path:
    payloads are opaque, including empty and odd-sized ones), with the
    header metadata intact."""
    from data_ingestion_system_spark.operators.codecs import (
        demux_avi,
        encode_avi,
    )

    m = demux_avi(encode_avi(frames, w, h, fps=fps, fourcc=b"MJPG"))
    assert m["frames"] == frames
    assert (m["width"], m["height"]) == (w, h)
    assert m["n_frames"] == len(frames)
    assert m["us_per_frame"] == 1_000_000 // fps


@settings(max_examples=100, deadline=None)
@given(data=st.data(),
       w=st.integers(min_value=1, max_value=16),
       h=st.integers(min_value=1, max_value=16),
       n=st.integers(min_value=1, max_value=4))
def test_avi_raw_frame_pixel_roundtrip(data, w, h, n):
    """Raw-DIB frames round-trip to the exact pixel array for every
    (width, height) including stride-padded widths."""
    import numpy as np

    from data_ingestion_system_spark.operators.codecs import (
        decode_avi_raw_frame,
        demux_avi,
        encode_avi,
    )

    imgs = [np.frombuffer(
        data.draw(st.binary(min_size=w * h * 3, max_size=w * h * 3)),
        dtype=np.uint8).reshape(h, w, 3) for _ in range(n)]
    stride = (w * 3 + 3) & ~3

    def payload(img):
        out = np.zeros((h, stride), np.uint8)
        out[:, :w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
        return out.tobytes()

    m = demux_avi(encode_avi([payload(i) for i in imgs], w, h))
    assert m["fourcc"] == "DIB"
    for p, img in zip(m["frames"], imgs):
        assert (decode_avi_raw_frame(p, w, h) == img).all()


# ------------------------------------------------- point-in-interval join

_interval_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),      # user_id
        st.sampled_from(["a", "b", "purchase"]),    # event_type
        st.integers(min_value=0, max_value=10_000), # minutes offset
    ),
    min_size=1, max_size=30,
)


@SPARK_SETTINGS
@given(rows=_interval_events)
def test_bucketed_interval_join_equals_naive(spark, rows):
    """The bucketed lowering is a pure partitioning of the match space:
    for ANY event log it must return exactly the rows of the naive
    inequality join (valid_from <= ts < valid_to, open interval matches
    everything after its start) — including logs whose intervals span
    many days, start and end inside one day, or never close."""
    import datetime as dt

    from data_ingestion_system_spark.operators.temporal import (
        point_in_interval_enrich,
        scd2_intervals,
    )

    base = dt.datetime(2024, 3, 1)
    data = [(i, u, e, base + dt.timedelta(minutes=m))
            for i, (u, e, m) in enumerate(rows)]
    ev = spark.createDataFrame(
        data, "event_id long, user_id long, event_type string, "
              "ts timestamp_ntz")
    iv = scd2_intervals(ev)
    probes = (ev.filter(F.col("event_type") == "purchase")
              .select("event_id", "user_id", "ts"))
    got = {(r.event_id, r.status_at_event)
           for r in point_in_interval_enrich(probes, iv).collect()}
    naive = (probes.join(iv, "user_id")
             .filter((F.col("valid_from") <= F.col("ts"))
                     & (F.col("valid_to").isNull()
                        | (F.col("ts") < F.col("valid_to"))))
             .select("event_id", F.col("status").alias("s")))
    expect = {(r.event_id, r.s) for r in naive.collect()}
    assert got == expect


def test_pagerank_tol_early_exit(spark):
    """Convergence early-exit: on a k-regular graph the uniform rank is
    the exact fixed point, so with tol set the loop must stop after the
    first iteration (the returned plan is 1 aggregate deep, not 50) and
    still return the fixed point."""
    from data_ingestion_system_spark.operators.queries_relational import (
        pagerank_iterate,
    )

    # complete graph K4: 3-regular
    nodes = ["n0", "n1", "n2", "n3"]
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]],
        "a string, b string")
    pr = pagerank_iterate(pairs, iters=50, tol=1e-12)
    plan = pr._jdf.queryExecution().analyzed().toString()
    n_aggs = plan.count("Aggregate")
    assert n_aggs < 10, f"early exit did not trigger ({n_aggs} aggregates)"
    rows = pr.collect()
    assert len(rows) == 4
    assert all(abs(r["pr"] - 0.25) < 1e-12 for r in rows)


def test_pagerank_tol_keeps_caller_cache(spark):
    """The tol path releases the caches it made, not one the caller made:
    persist/unpersist are not refcounted, so unpersisting a caller-cached
    ``pairs`` would silently drop the caller's own reuse."""
    from data_ingestion_system_spark.operators.queries_relational import (
        pagerank_iterate,
    )

    nodes = ["n0", "n1", "n2", "n3"]
    rows = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    cached = spark.createDataFrame(rows, "a string, b string").cache()
    pagerank_iterate(cached, iters=50, tol=1e-12).collect()
    assert cached.is_cached
    cached.unpersist()

    owned = spark.createDataFrame(rows, "a string, b string")
    pagerank_iterate(owned, iters=50, tol=1e-12).collect()
    assert not owned.is_cached
