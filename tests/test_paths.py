"""Multi-source shortest paths vs networkx (SURVEY §5)."""

from __future__ import annotations

import math
import random

import networkx as nx
import pytest

from cminer_spark.operators.paths import shortest_paths
from cminer_spark.plans import SuperstepCheckpoint

from tests.conftest import count_jobs, edges_df


def _seeds_df(spark, seeds):
    return spark.createDataFrame([(int(s),) for s in seeds], "v_id long")


def _nx_graph(pairs, directed, weighted):
    g = nx.DiGraph() if directed else nx.Graph()
    for p in pairs:
        u, v = p[0], p[1]
        w = float(p[2]) if weighted else 1
        if g.has_edge(u, v):
            w = min(w, g[u][v]["weight"])
        g.add_edge(u, v, weight=w)
    return g


def _parity(spark, pairs, seeds, directed=True, weighted=False):
    df = edges_df(spark, pairs)
    dists, info = shortest_paths(
        df,
        _seeds_df(spark, seeds),
        weight_col="weight" if weighted else None,
        directed=directed,
    )
    assert info.converged
    got = {r.v_id: r.dist for r in dists.collect()}
    g = _nx_graph(pairs, directed, weighted)
    for s in seeds:
        g.add_node(s)
    want = nx.multi_source_dijkstra_path_length(g, set(seeds), weight="weight")
    assert set(got) == set(want), (set(got) ^ set(want))
    for v, d in want.items():
        if weighted:
            assert math.isclose(got[v], d, abs_tol=1e-9), (v, got[v], d)
        else:
            assert got[v] == int(d), (v, got[v], d)
    return dists


def test_single_source_directed_hops(spark):
    #   0→1→2→3, 0→3 shortcut, 4 unreachable
    dists = _parity(spark, [(0, 1), (1, 2), (2, 3), (0, 3), (4, 0)], [0])
    assert dict(dists.dtypes)["dist"] == "bigint"  # unweighted: hop counts


def test_multi_source_undirected(spark):
    pairs = [(i, i + 1) for i in range(20)] + [(100, 101)]
    _parity(spark, pairs, [0, 101], directed=False)


def test_weighted_shortcut_loses_to_cheap_path(spark):
    # 0→1→2 costs 2, direct 0→2 costs 5; relaxation must prefer 2
    pairs = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0)]
    _parity(spark, pairs, [0], weighted=True)


def test_parallel_edges_take_min_weight(spark):
    pairs = [(0, 1, 7.0), (0, 1, 2.0), (1, 2, 1.0)]
    _parity(spark, pairs, [0], weighted=True)


def test_random_graph_parity_both_modes(spark):
    rng = random.Random(23)
    pairs = [
        (rng.randrange(50), rng.randrange(50), rng.uniform(0.5, 3.0))
        for _ in range(200)
    ]
    _parity(spark, pairs, [0, 1], directed=True, weighted=True)
    _parity(spark, pairs, [0, 1], directed=False, weighted=False)


def test_fixed_round_prefix_is_k_edge_minimum(spark):
    # path 0→1→…→9: after max_rounds=3 only hops ≤3 are present
    pairs = [(i, i + 1) for i in range(9)]
    df = edges_df(spark, pairs)
    dists, info = shortest_paths(df, _seeds_df(spark, [0]), max_rounds=3)
    assert not info.converged and info.rounds == 3
    got = {r.v_id: r.dist for r in dists.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_relaxation_job_budget(spark):
    # set-up is the adjacency count and the seed cut; every round (the
    # first one filling the adjacency cache too) is one job, and the
    # result is the last round's cut, not a new one
    df = edges_df(spark, [(i, i + 1) for i in range(6)])
    seeds = _seeds_df(spark, [0])
    (_dists, info), jobs = count_jobs(
        spark, lambda: shortest_paths(df, seeds, directed=False)
    )
    assert info.converged and info.rounds == 7
    assert jobs <= info.rounds + 3, jobs


def test_checkpoint_resume_matches_fresh(spark, tmp_ckpt):
    rng = random.Random(5)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    df = edges_df(spark, pairs)
    seeds = _seeds_df(spark, [0])
    fresh, _ = shortest_paths(df, seeds, directed=False)
    want = {r.v_id: r.dist for r in fresh.collect()}

    part, pinfo = shortest_paths(
        df, seeds, directed=False, max_rounds=2,
        checkpoint=SuperstepCheckpoint(spark, tmp_ckpt),
    )
    assert pinfo.rounds == 2
    res, rinfo = shortest_paths(
        df, seeds, directed=False,
        checkpoint=SuperstepCheckpoint(spark, tmp_ckpt),
    )
    assert rinfo.resumed_from == 2 and rinfo.converged
    got = {r.v_id: r.dist for r in res.collect()}
    assert got == want


def test_no_seeds_empty_result(spark):
    df = edges_df(spark, [(0, 1)])
    dists, info = shortest_paths(df, _seeds_df(spark, []))
    assert dists.count() == 0 and info.converged


# ----------------------------------------------------------------------
# landmark distances / harmonic closeness
# ----------------------------------------------------------------------

def test_landmark_distances_parity(spark):
    from cminer_spark.operators.paths import landmark_distances

    rng = random.Random(17)
    pairs = [(rng.randrange(30), rng.randrange(30)) for _ in range(80)]
    lms = [0, 5, 9]
    df = edges_df(spark, pairs)
    dists, info = landmark_distances(df, _seeds_df(spark, lms), directed=False)
    assert info.converged
    got = {(r.lm, r.v_id): r.dist for r in dists.collect()}
    g = _nx_graph(pairs, directed=False, weighted=False)
    for lm in lms:
        g.add_node(lm)
        want = nx.single_source_shortest_path_length(g, lm)
        for v, d in want.items():
            assert got[(lm, v)] == d, (lm, v)
    assert len(got) == sum(
        len(nx.single_source_shortest_path_length(g, lm)) for lm in lms
    )


def test_harmonic_closeness_parity(spark):
    from cminer_spark.operators.paths import harmonic_closeness

    rng = random.Random(29)
    pairs = [(rng.randrange(25), rng.randrange(25)) for _ in range(60)]
    lms = [1, 2, 3, 4]
    df = edges_df(spark, pairs)
    cl, info = harmonic_closeness(df, _seeds_df(spark, lms), directed=False)
    assert info.converged
    got = {r.v_id: (r.n_reached, r.closeness) for r in cl.collect()}
    g = _nx_graph(pairs, directed=False, weighted=False)
    for lm in lms:
        g.add_node(lm)
    want: dict[int, tuple[int, float]] = {}
    for lm in lms:
        for v, d in nx.single_source_shortest_path_length(g, lm).items():
            n, s = want.get(v, (0, 0.0))
            if d > 0:
                want[v] = (n + 1, s + 1.0 / d)
            else:
                want.setdefault(v, (n, s))
    assert set(got) == set(want)
    for v, (n, s) in want.items():
        assert got[v][0] == n, v
        assert math.isclose(got[v][1], s, abs_tol=1e-9), v


def test_landmark_fixed_rounds_prefix(spark):
    from cminer_spark.operators.paths import landmark_distances

    # chain 0-1-2-3-4-5, landmark 0, k=2 → only hops ≤2 reached
    pairs = [(i, i + 1) for i in range(5)]
    df = edges_df(spark, pairs)
    dists, info = landmark_distances(
        df, _seeds_df(spark, [0]), directed=False, max_rounds=2
    )
    assert not info.converged and info.rounds == 2
    got = {r.v_id: r.dist for r in dists.collect()}
    assert got == {0: 0, 1: 1, 2: 2}


# ----------------------------------------------------------------------
# landmark betweenness
# ----------------------------------------------------------------------

def _brandes_replay(pairs, sources, directed):
    """Driver-side Brandes from the given sources (unweighted)."""
    from collections import deque

    adj: dict[int, set[int]] = {}
    nodes = set()
    for p in pairs:
        u, v = p[0], p[1]
        nodes.update((u, v))
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        if not directed:
            adj.setdefault(v, set()).add(u)
    bet = {v: 0.0 for v in nodes}
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        order = []
        dq = deque([s])
        while dq:
            u = dq.popleft()
            order.append(u)
            for w in sorted(adj.get(u, ())):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0
                    dq.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        delta = {v: 0.0 for v in order}
        for w in reversed(order):
            for x in adj.get(w, ()):
                if dist.get(x) == dist[w] + 1:
                    delta[w] += sigma[w] / sigma[x] * (1 + delta[x])
            if w != s:
                bet[w] += delta[w]
    return bet


def test_landmark_betweenness_matches_brandes_subset(spark):
    from cminer_spark.operators.paths import landmark_betweenness

    rng = random.Random(31)
    pairs = [(rng.randrange(25), rng.randrange(25)) for _ in range(70)]
    lms = [0, 3, 8]
    bet, info = landmark_betweenness(
        edges_df(spark, pairs), _seeds_df(spark, lms), directed=False
    )
    assert info.converged
    got = {r.v_id: r.betweenness for r in bet.collect()}
    want = _brandes_replay(pairs, lms, directed=False)
    for v, b in want.items():
        assert math.isclose(got.get(v, 0.0), b, abs_tol=1e-9), (v, got.get(v), b)


def test_full_source_betweenness_matches_networkx(spark):
    from cminer_spark.operators.paths import landmark_betweenness

    rng = random.Random(47)
    pairs = list({(rng.randrange(18), rng.randrange(18)) for _ in range(50)})
    pairs = [p for p in pairs if p[0] != p[1]]
    verts = sorted({v for p in pairs for v in p})
    for directed, scale in ((True, 1.0), (False, 2.0)):
        bet, info = landmark_betweenness(
            edges_df(spark, pairs), _seeds_df(spark, verts), directed=directed
        )
        assert info.converged
        got = {r.v_id: r.betweenness for r in bet.collect()}
        g = nx.DiGraph(pairs) if directed else nx.Graph(pairs)
        want = nx.betweenness_centrality(g, normalized=False)
        # undirected networkx counts each pair once (scale 0.5); the
        # engine accumulates every source, i.e. each pair twice
        for v, b in want.items():
            assert math.isclose(got.get(v, 0.0), scale * b, abs_tol=1e-9), (
                directed, v, got.get(v), scale * b,
            )


def test_betweenness_path_graph_closed_form(spark):
    from cminer_spark.operators.paths import landmark_betweenness

    # path 0-1-2-3-4, all sources: interior v has 2·(#pairs through v)
    pairs = [(i, i + 1) for i in range(4)]
    bet, _ = landmark_betweenness(
        edges_df(spark, pairs), _seeds_df(spark, [0, 1, 2, 3, 4]), directed=False
    )
    got = {r.v_id: r.betweenness for r in bet.collect()}
    assert math.isclose(got[2], 2 * 4.0)  # pairs (0,3),(0,4),(1,3),(1,4)
    assert math.isclose(got[1], 2 * 3.0)
    assert got.get(0, 0.0) == 0.0


def test_diameter_double_sweep_exact_on_tree(spark):
    from cminer_spark.operators.paths import diameter_estimate

    # path 0-1-...-8: double sweep is exact on trees → diameter 8
    pairs = [(i, i + 1) for i in range(8)]
    out, info = diameter_estimate(edges_df(spark, pairs), directed=False)
    row = out.collect()[0]
    assert info.converged
    assert row.start_v == 0 and row.peripheral_v == 8 and row.diameter_lb == 8


def test_diameter_is_lower_bound_on_random_graph(spark):
    from cminer_spark.operators.paths import diameter_estimate

    rng = random.Random(53)
    pairs = [(rng.randrange(30), rng.randrange(30)) for _ in range(60)]
    out, _ = diameter_estimate(edges_df(spark, pairs), directed=False)
    lb = out.collect()[0].diameter_lb
    g = _nx_graph(pairs, directed=False, weighted=False)
    # true diameter of the component containing min-id vertex bounds lb
    comp = g.subgraph(nx.node_connected_component(g, min(g.nodes)))
    true_d = nx.diameter(comp)
    assert 0 < lb <= true_d


def test_diameter_truncated_rounds(spark):
    from cminer_spark.operators.paths import diameter_estimate

    pairs = [(i, i + 1) for i in range(10)]
    out, info = diameter_estimate(
        edges_df(spark, pairs), directed=False, max_rounds=3
    )
    row = out.collect()[0]
    assert not info.converged
    # sweep 1 reaches only vertex 3; sweep 2 from 3 reaches 0..6 → lb 3
    assert row.peripheral_v == 3 and row.diameter_lb == 3
