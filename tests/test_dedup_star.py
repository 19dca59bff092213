"""large-star/small-star connected components: agreement with min-label
propagation on real near-dup graphs, correctness on the adversarial
long-chain case, and a loud failure when either form hits its round cap."""

from __future__ import annotations

import pytest

from data_ingestion_system_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def _labels(df):
    return {r.node: r.cluster_id for r in df.collect()}


def test_star_matches_minlabel_on_random_components(spark):
    # three components: {0..4} (path), {10,11,12} (triangle), {20,21}
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4),
             (10, 11), (11, 12), (10, 12),
             (20, 21)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got_star = _labels(connected_components_star(df))
    got_min = _labels(connected_components(df).withColumnRenamed("node", "node"))
    assert got_star == got_min
    assert got_star == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
                        10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_star_handles_long_chain_in_logarithmic_rounds(spark):
    """A 200-link chain has diameter 200: min-label propagation needs 200
    rounds (past its default 25-round cap), the star rounds finish in
    O(log^2 n)."""
    n = 200
    df = spark.createDataFrame([(i, i + 1) for i in range(n)],
                               "id_a long, id_b long")
    got = _labels(connected_components_star(df, max_iter=15))
    assert got == {i: 0 for i in range(n + 1)}


@pytest.mark.parametrize("cc, kwargs", [
    (connected_components, {}),
    (connected_components_star, {"max_iter": 3}),
], ids=["minlabel", "star"])
def test_round_cap_raises_instead_of_mislabeling(spark, cc, kwargs):
    """A 60-link chain outlasts both caps: the convergence probe that
    runs every round must raise, not hand back unconverged labels."""
    df = spark.createDataFrame([(i, i + 1) for i in range(60)],
                               "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="max_iter"):
        cc(df, **kwargs)


def test_star_two_chains_do_not_merge(spark):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(50)] +
        [(100 + i, 101 + i) for i in range(50)],
        "id_a long, id_b long")
    got = _labels(connected_components_star(df))
    assert all(v == 0 for k, v in got.items() if k <= 50)
    assert all(v == 100 for k, v in got.items() if k >= 100)


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


def test_star_matches_union_find_on_random_graphs(spark):
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
        got = _labels(connected_components_star(df))
        assert got == want, f"seed {seed}"
