"""Graph-structural layer: degrees, CSR blocks, hubs, induced
subgraph, k-hop BFS, catalogs."""

from __future__ import annotations

import networkx as nx
from pyspark.sql import functions as F

from cminer_spark.operators import csr_blocks, degrees, degrees_by_type, hub_vertices
from cminer_spark.operators.graph import (
    induced_subgraph,
    jaccard_similarity,
    jaccard_similarity_minhash,
    k_hop_neighborhood,
    label_catalog,
)

from tests.conftest import edges_df


def test_degrees_with_types(spark):
    e = spark.createDataFrame(
        [(1, 2, "a"), (1, 2, "b"), (1, 3, "a"), (3, 1, "a")],
        "src long, dst long, type string",
    )
    d = {r.v_id: (r.out_deg, r.in_deg, r.tot_deg) for r in degrees(e).collect()}
    assert d[1] == (3, 1, 4) and d[2] == (0, 2, 2) and d[3] == (1, 1, 2)
    dt = {
        (r.v_id, r.type): (r.t_out_deg, r.t_in_deg)
        for r in degrees_by_type(e).collect()
    }
    assert dt[(1, "a")] == (2, 1) and dt[(1, "b")] == (1, 0)


def test_csr_blocks(spark):
    e = edges_df(spark, [(1, 2), (1, 3), (1, 2), (2, 3)])
    rows = {r.src: r for r in csr_blocks(e, n_blocks=2).collect()}
    assert rows[1].dsts == [2, 3]
    assert rows[1].weights == [2.0, 1.0]  # parallel edge weight summed
    assert rows[1].out_deg == 2
    assert rows[2].dsts == [3]


def test_hub_detection(spark):
    pairs = [(i, 0) for i in range(1, 200)] + [(1, 2), (3, 4), (5, 6)]
    # tiny vertex count: use the median as the baseline quantile (at
    # real scale the default p99 works — hubs are rare there)
    hubs = hub_vertices(edges_df(spark, pairs), quantile=0.5, factor=4.0)
    got = {r.v_id for r in hubs.collect()}
    assert got == {0}


def test_induced_subgraph(spark):
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    vs = spark.createDataFrame([(1,), (2,), (3,)], "v_id long")
    _v, sub = induced_subgraph(e, vs)
    got = {(r.src, r.dst) for r in sub.collect()}
    assert got == {(1, 2), (2, 3)}


def test_k_hop_neighborhood_vs_networkx(spark):
    import random

    rng = random.Random(41)
    pairs = list({(rng.randrange(30), rng.randrange(30)) for _ in range(45)})
    pairs = [p for p in pairs if p[0] != p[1]]
    g = nx.Graph(pairs)
    g.add_node(0)
    e = edges_df(spark, pairs)
    seeds = spark.createDataFrame([(0,)], "v_id long")
    for k in (1, 2, 3):
        got = {r.v_id for r in k_hop_neighborhood(e, seeds, k).collect()}
        want = {
            v
            for v, d in nx.single_source_shortest_path_length(g, 0, cutoff=k).items()
        }
        assert got == want, k


def test_k_hop_exhausts_early_for_large_k(spark):
    # k far beyond the eccentricity: the frontier empties and the
    # relaxation stops early instead of running k rounds; the result
    # is the last round's localCheckpoint, so it outlives the loop's
    # unpersisted adjacency.
    pairs = [(i, i + 1) for i in range(5)]
    e = edges_df(spark, pairs)
    seeds = spark.createDataFrame([(0,)], "v_id long")
    out = k_hop_neighborhood(e, seeds, k=50)
    assert {r.v_id for r in out.collect()} == set(range(6))
    # re-collect after the adjacency is unpersisted
    assert out.count() == 6


def test_label_catalog_sorted(spark):
    v = spark.createDataFrame(
        [(1, ["b", "a"]), (2, ["c"]), (3, ["a"])],
        "v_id long, labels array<string>",
    )
    assert [r.label for r in label_catalog(v).collect()] == ["a", "b", "c"]


def test_jaccard_exact_values(spark):
    # N(1)={2,3}, N(4)={2,3}: jaccard(1,4) = 2/2... degrees: deg1=2,
    # deg4=2, shared=2 → 2/(2+2-2)=1.0
    e = edges_df(spark, [(1, 2), (1, 3), (4, 2), (4, 3)])
    got = {(r.a, r.b): r.jaccard for r in jaccard_similarity(e).collect()}
    assert got[(1, 4)] == 1.0
    assert got[(2, 3)] == 1.0  # N(2)={1,4}=N(3)


def test_jaccard_pivot_degree_cap(spark):
    """max_pivot_degree bounds wedge blow-up: pairs whose only shared
    neighbors are super-hubs disappear; other pairs keep exact values
    computed WITHOUT hub wedges."""
    # hub 100 connected to 1..6; besides that, 1-2 share neighbor 7
    pairs = [(100, i) for i in range(1, 7)] + [(1, 7), (2, 7)]
    e = edges_df(spark, pairs)
    exact = {(r.a, r.b): r.jaccard for r in jaccard_similarity(e).collect()}
    capped = {
        (r.a, r.b): r.jaccard
        for r in jaccard_similarity(e, max_pivot_degree=3).collect()
    }
    # hub-only pairs (e.g. 3-4 share only hub 100) are dropped
    assert (3, 4) in exact and (3, 4) not in capped
    # 1-2 survive via pivot 7 (deg 2 ≤ cap); shared_cnt drops from 2
    # (hub+7) to 1 (just 7): jaccard = 1/(2+2-1)
    assert abs(capped[(1, 2)] - 1 / 3) < 1e-9
    # cap=∞ equals exact
    uncapped = {
        (r.a, r.b): r.jaccard
        for r in jaccard_similarity(e, max_pivot_degree=10**9).collect()
    }
    assert uncapped == exact


def test_jaccard_minhash_estimates(spark):
    """MinHash-LSH estimate: high-similarity pairs are found and the
    estimate is within MinHash tolerance of the true Jaccard."""
    import random

    rng = random.Random(8)
    pairs = set()
    # two vertices with near-identical neighborhoods
    shared = list(range(100, 130))
    for nb in shared:
        pairs.add((1, nb))
        pairs.add((2, nb))
    pairs.add((1, 200))  # true jaccard(1,2) = 30/31
    for _ in range(120):
        a, b = rng.randrange(3, 60), rng.randrange(100, 160)
        pairs.add((a, b))
    e = edges_df(spark, sorted(pairs))
    est = {
        (r.a, r.b): r.jaccard_est
        for r in jaccard_similarity_minhash(e, n_hashes=128, bands=32).collect()
    }
    assert (1, 2) in est
    true_j = 30 / 31
    assert abs(est[(1, 2)] - true_j) < 0.15
    exact = {(r.a, r.b): r.jaccard for r in jaccard_similarity(e).collect()}
    # high-sim pairs (j >= 0.8) must all be recalled by the banding
    high = {k for k, v in exact.items() if v >= 0.8}
    assert high <= set(est)


def test_cooccurrence_hand_computed(spark):
    pairs = spark.createDataFrame(
        [
            (1, "a"), (1, "b"), (1, "b"),  # dup membership counts once
            (2, "a"), (2, "b"), (2, "c"),
            (3, "c"),
        ],
        "ent long, item string",
    )
    from cminer_spark.operators.graph import cooccurrence

    out = {
        (r.item_a, r.item_b): r.n_entities
        for r in cooccurrence(pairs, "ent", "item").collect()
    }
    assert out == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_cooccurrence_entity_degree_cap(spark):
    # entity 2 holds 3 items — capped at 2 it drops out entirely
    pairs = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c")],
        "ent long, item string",
    )
    from cminer_spark.operators.graph import cooccurrence

    out = {
        (r.item_a, r.item_b): r.n_entities
        for r in cooccurrence(pairs, "ent", "item", max_entity_degree=2).collect()
    }
    assert out == {("a", "b"): 1}
