"""Connected components: correctness vs a python union-find oracle,
deterministic labels, partitioning invariance.
"""

from __future__ import annotations

import random

import pytest

from hsearch_spark.operators.components import assign_clusters, connected_components


def _uf_oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min of component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _run(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    return {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }


def test_cc_simple_chain(spark):
    got = _run(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_matches_union_find_oracle_random_graph(spark):
    rng = random.Random(42)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got = _run(spark, edges)
    oracle = _uf_oracle(edges, {x for e in edges for x in e})
    assert got == oracle


def test_cc_long_path_converges(spark):
    # path of length 40 → needs several star rounds; force the
    # distributed loop (driver_max_edges=0) so this keeps exercising
    # star-round convergence, not the driver tier
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_cc_driver_tier_equals_star_loop(spark):
    """The driver-tier union-find (small edge tables) must produce the
    exact star-loop labels — same tier-invisibility contract as the
    k-means driver combine."""
    rng = random.Random(11)
    nodes = list(range(250))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(180)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(900 + i, 901 + i) for i in range(25)]  # chain
    edges += [(3000, 3000 + i) for i in range(1, 15)]  # star
    df = spark.createDataFrame(edges, "a long, b long")
    loop = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    tier = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert tier == loop
    assert tier == _uf_oracle(edges, {x for e in edges for x in e})


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df).count() == 0
    assert connected_components(df, driver_max_edges=0).count() == 0


def test_cc_star_loop_non_convergence_raises(spark):
    """A star loop that runs out of rounds must fail loudly, not return
    unconverged labels as final: a 40-edge path needs more than one."""
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(df, driver_max_edges=0, max_iter=1)


def test_cc_partitioning_invariant(spark):
    edges = [(i, i % 7) for i in range(7, 100)]
    df1 = spark.createDataFrame(edges, "a long, b long")
    df2 = df1.repartition(17)
    r1 = {r["doc_id"]: r["cluster_id"] for r in connected_components(df1).collect()}
    r2 = {r["doc_id"]: r["cluster_id"] for r in connected_components(df2).collect()}
    assert r1 == r2


def test_assign_clusters_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    edges = spark.createDataFrame([(0, 1)], "a long, b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in assign_clusters(docs, connected_components(edges)).collect()
    }
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4, 5: 5}


def test_cc_pre_contract_equals_plain_star_loop(spark):
    """pre_contract is a pure physical optimization: identical labels to
    the plain star loop on random graphs, chains, and star unions."""
    rng = random.Random(7)
    nodes = list(range(300))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(220)]
    edges = [(a, b) for a, b in edges if a != b]
    # add a long path (worst case for contraction: chain spans buckets)
    edges += [(1000 + i, 1001 + i) for i in range(35)]
    # and overlapping stars (the shape the channels actually emit)
    edges += [(2000, 2000 + i) for i in range(1, 20)]
    edges += [(2010, 2010 + i) for i in range(1, 20)]
    df = spark.createDataFrame(edges, "a long, b long")
    # driver_max_edges=0 forces the distributed star loop so this keeps
    # testing contraction + loop, not the driver tier
    plain = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            df, pre_contract=False, driver_max_edges=0
        ).collect()
    }
    contracted = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            df, pre_contract=True, driver_max_edges=0
        ).collect()
    }
    assert contracted == plain
    oracle = _uf_oracle(edges, {x for e in edges for x in e})
    assert contracted == oracle


def test_contract_local_preserves_components_and_shrinks(spark):
    """The contraction forest keeps exact connectivity and never grows
    the table; on star-shaped input it collapses to one star."""
    from pyspark.sql import functions as F

    from hsearch_spark.operators.components import _contract_local

    star = [(5, 5 + i) for i in range(1, 30)]
    df = spark.createDataFrame(star, "a long, b long").select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    got = {(r["u"], r["v"]) for r in _contract_local(df).collect()}
    # every member points at the center, nothing else
    assert got == {(5 + i, 5) for i in range(1, 30)}
