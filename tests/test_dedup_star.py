"""The connected-components core: both finishes (the driver-side
union-find and the large-star/small-star rounds with distributed labels)
on the same inputs, the adversarial long-chain and hub cases, the clique
hand-off from the rounds to the union-find, a loud failure at the round
cap, and release of what the core persisted."""

from __future__ import annotations

import pytest

from data_ingestion_system_spark.operators import dedup as D
from data_ingestion_system_spark.operators.dedup import connected_components


def _labels(df):
    return {r.node: r.cluster_id for r in df.collect()}


@pytest.fixture(params=["union_find", "rounds"])
def finish(request, monkeypatch):
    """The default size threshold finishes every test graph on the
    driver; a threshold of 0 sends every input through the rounds and
    the distributed labels."""
    if request.param == "rounds":
        monkeypatch.setattr(D, "_ONE_TASK_EDGES", 0)
    return request.param


def test_labels_on_small_components(spark, finish):
    # three components: {0..4} (path), {10,11,12} (triangle), {20,21}
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4),
             (10, 11), (11, 12), (10, 12),
             (20, 21)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    assert _labels(connected_components(df)) == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
        10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_in_logarithmic_rounds(spark, finish):
    """A 200-link chain has diameter 200: the star rounds finish it in
    O(log^2 n) rounds, the union-find in one pass."""
    n = 200
    df = spark.createDataFrame([(i, i + 1) for i in range(n)],
                               "id_a long, id_b long")
    got = _labels(connected_components(df, max_iter=15))
    assert got == {i: 0 for i in range(n + 1)}


def test_round_cap_raises_instead_of_mislabeling(spark, monkeypatch):
    """A 60-link chain outlasts three star rounds: the convergence probe
    that runs every round must raise, not hand back unconverged
    labels."""
    monkeypatch.setattr(D, "_ONE_TASK_EDGES", 0)
    df = spark.createDataFrame([(i, i + 1) for i in range(60)],
                               "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(df, max_iter=3)


def test_two_chains_do_not_merge(spark, finish):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(50)] +
        [(100 + i, 101 + i) for i in range(50)],
        "id_a long, id_b long")
    got = _labels(connected_components(df))
    assert all(v == 0 for k, v in got.items() if k <= 50)
    assert all(v == 100 for k, v in got.items() if k >= 100)


def test_hub_star_converges(spark, finish):
    """Hub skew: about 5,000 neighbours around a mid-range hub id.  The
    union-find labels it in one pass; the first star round already
    re-points every node at the component minimum, so three rounds are
    ample (a 10^5 hub took two)."""
    from pyspark.sql import functions as F

    n, hub = 5000, 2500
    df = (spark.range(n + 1).filter(F.col("id") != hub)
          .select(F.lit(hub).cast("long").alias("id_a"),
                  F.col("id").alias("id_b")))
    got = _labels(connected_components(df, max_iter=3))
    assert got == {i: 0 for i in range(n + 1)}


def _ground_truth(pairs, nodes):
    """Plain union-find over the edge list (the oracle-of-oracles)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_matches_union_find_on_random_graphs(spark, finish):
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 120
        pairs = sorted({(min(a, b), max(a, b))
                        for a, b in (sorted(rng.sample(range(n), 2))
                                     for _ in range(150))})
        nodes = sorted({x for p in pairs for x in p})
        want = _ground_truth(pairs, nodes)
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = _labels(connected_components(df))
        # every endpoint of `pairs` gets a label, and nothing else does
        assert set(got) == set(nodes), f"seed {seed}"
        assert got == want, f"seed {seed}"


def test_cliques_hand_off_from_rounds_to_union_find(spark, monkeypatch):
    """Near-dup cliques: c copies pair into c(c-1)/2 edges, and the star
    rounds shrink each clique to c-1 edges.  With the threshold between
    those two sizes the rounds must run first, and the union-find must
    see no more edges than the threshold."""
    import itertools

    c, k = 12, 4
    pairs = [(base + i, base + j)
             for base in range(0, 100 * k, 100)
             for i, j in itertools.combinations(range(c), 2)]
    threshold = k * (c - 1) + 5
    assert threshold < len(pairs)
    seen = []
    union_find = D._union_find

    def recording(u, v):
        seen.append(len(u))
        return union_find(u, v)

    monkeypatch.setattr(D, "_ONE_TASK_EDGES", threshold)
    monkeypatch.setattr(D, "_union_find", recording)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = _labels(connected_components(df))
    nodes = sorted({x for p in pairs for x in p})
    assert seen and seen[0] <= threshold < len(pairs)
    assert got == _ground_truth(pairs, nodes)


def test_union_find_finish_releases_persisted_edges(spark):
    """The one-task finish unpersists the edge set it persisted: after
    ``clearCache()`` sets the baseline, the JVM's persistent-RDD count is
    back at it once the call returns, with no GC or cache clear in
    between."""
    jsc = spark.sparkContext._jsc
    df = spark.createDataFrame([(i, i + 1) for i in range(50)],
                               "id_a long, id_b long")
    spark.catalog.clearCache()
    before = jsc.getPersistentRDDs().size()
    labels = connected_components(df)
    assert jsc.getPersistentRDDs().size() == before
    assert _labels(labels) == {i: 0 for i in range(51)}
