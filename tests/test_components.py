"""Connected components: exact parity vs networkx + differential vs
hash-min; resume-equals-fresh."""

from __future__ import annotations

import random

import networkx as nx

from cminer_spark.operators import connected_components, hashmin_components
from cminer_spark.plans import SuperstepCheckpoint

from tests.conftest import count_jobs, edges_df
from tests.oracles import hashmin_oracle


def _nx_components(pairs, vertices=()):
    g = nx.Graph()
    g.add_nodes_from(vertices)
    g.add_edges_from((s, d) for s, d in pairs)
    return {min(c): set(c) for c in nx.connected_components(g)}


def _got_components(labels_df):
    out: dict[int, set[int]] = {}
    for r in labels_df.collect():
        out.setdefault(r.component, set()).add(r.v_id)
    return out


def _check(spark, pairs, vertices=()):
    df = edges_df(spark, pairs)
    vdf = (
        spark.createDataFrame([(int(v),) for v in vertices], "v_id long")
        if vertices
        else None
    )
    labels, info = connected_components(df, vertices=vdf)
    got = _got_components(labels)
    want = _nx_components(pairs, vertices)
    assert got == want
    assert info.converged
    assert info.n_components == len(want)
    return info


def test_two_cliques_with_bridge(spark):
    k1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    _check(spark, k1 + k2)  # two components
    _check(spark, k1 + k2 + [(4, 10)])  # bridged: one


def test_star_cc_job_budget(spark):
    """Star CC costs one job per round plus three: the initial cut
    (two jobs under AQE), which carries the first fingerprint, and the
    label cut, which carries the component count."""
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8), (8, 9)]
    (labels, info), jobs = count_jobs(
        spark, lambda: connected_components(edges_df(spark, pairs))
    )
    assert info.converged and info.n_components == 2
    assert jobs == info.rounds + 3, (jobs, info.rounds)
    assert _got_components(labels) == _nx_components(pairs)


def test_planted_hub_past_window_buffer(spark):
    """One hub with 5,000 leaves beside a 4-chain. The star rounds take
    their minimums with windows partitioned by vertex: round 1's small
    star puts the hub's 5,000 edges in one window partition, round 2's
    large star leaf 0's, both past Spark's in-memory window buffer
    (``spark.sql.windowExec.buffer.in.memory.threshold``, 4,096 rows)."""
    hub = [(leaf, 5000) for leaf in range(5000)]
    chain = [(10001, 10002), (10002, 10003), (10003, 10004)]
    assert _check(spark, hub + chain).n_components == 2


def test_chain_and_isolated(spark):
    _check(spark, [(1, 2), (2, 3), (3, 4), (7, 8)], vertices=[1, 2, 3, 4, 7, 8, 99])


def test_random_graph_parity(spark):
    rng = random.Random(13)
    n = 300
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    pairs = [p for p in pairs if p[0] != p[1]]
    _check(spark, pairs)


def test_hashmin_differential(spark):
    rng = random.Random(5)
    pairs = [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    pairs = [p for p in pairs if p[0] != p[1]]
    df = edges_df(spark, pairs)
    got = {
        r.v_id: r.component
        for r in hashmin_components(df, rounds=4).collect()
    }
    want = hashmin_oracle(pairs, rounds=4)
    assert got == want


def test_cc_resume_equals_fresh(spark, tmp_ckpt):
    rng = random.Random(17)
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(180)]
    pairs = [p for p in pairs if p[0] != p[1]]
    df = edges_df(spark, pairs)
    fresh, _ = connected_components(df)

    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    _, first = connected_components(df, max_rounds=2, checkpoint=ck)
    assert len(first.round_secs) == first.rounds == 2
    resumed, info = connected_components(df, checkpoint=ck)
    assert info.resumed_from == 2
    # a resumed call times only the rounds it runs itself
    assert len(info.round_secs) == info.rounds - 2
    assert _got_components(fresh) == _got_components(resumed)


def _labels(df):
    return {r.v_id: r.component for r in df.collect()}


def test_incremental_equals_full_recompute(spark):
    from cminer_spark.operators import incremental_components

    rng = random.Random(23)
    base = sorted({(rng.randrange(50), rng.randrange(50)) for _ in range(60)})
    base = [p for p in base if p[0] != p[1]]
    # delta: merges two existing components, adds brand-new vertices
    # (60-64 chain hooked onto vertex 0), and an intra-component edge
    delta = [(60, 61), (61, 62), (62, 0), (63, 64)] + [
        p for p in [(1, 40), (2, 3)] if p not in base
    ]
    prev, _ = connected_components(edges_df(spark, base))
    got, info = incremental_components(prev, edges_df(spark, delta))
    want, _ = connected_components(edges_df(spark, base + delta))
    assert _labels(got) == _labels(want)
    assert info.n_components == len(set(_labels(want).values()))


def test_incremental_no_delta_changes_nothing(spark):
    from cminer_spark.operators import incremental_components

    base = [(0, 1), (1, 2), (5, 6)]
    prev, _ = connected_components(edges_df(spark, base))
    empty = spark.createDataFrame([], "src long, dst long")
    got, _ = incremental_components(prev, empty)
    assert _labels(got) == _labels(prev)


def test_incremental_labels_stay_canonical_min(spark):
    from cminer_spark.operators import incremental_components

    # two components {5,6} and {7,8}; a new vertex 1 bridges them:
    # the merged component's label must become 1 (the new minimum)
    prev, _ = connected_components(edges_df(spark, [(5, 6), (7, 8)]))
    got, _ = incremental_components(prev, edges_df(spark, [(1, 5), (1, 7)]))
    assert set(_labels(got).values()) == {1}
