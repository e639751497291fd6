"""HITS parity vs numpy oracle + structural checks (SURVEY §5)."""

from __future__ import annotations

import random

import numpy as np

from cminer_spark.operators import hits
from cminer_spark.plans import SuperstepCheckpoint

from tests.conftest import count_jobs, edges_df
from tests.oracles import hits_oracle


def _assert_parity(spark, pairs, vertices=None, **kw):
    df = edges_df(spark, pairs)
    vdf = (
        spark.createDataFrame([(int(v),) for v in vertices], "v_id long")
        if vertices
        else None
    )
    scores, info = hits(df, tol=1e-10, max_iter=300, vertices=vdf, **kw)
    got = {r.v_id: (r.hub, r.auth) for r in scores.collect()}
    want = hits_oracle(
        [(p[0], p[1], 1.0) for p in pairs], vertices=vertices, tol=1e-10
    )
    assert set(got) == set(want)
    gh = np.array([got[k][0] for k in sorted(got)])
    ga = np.array([got[k][1] for k in sorted(got)])
    wh = np.array([want[k][0] for k in sorted(want)])
    wa = np.array([want[k][1] for k in sorted(want)])
    assert np.allclose(gh, wh, atol=1e-6), np.abs(gh - wh).max()
    assert np.allclose(ga, wa, atol=1e-6), np.abs(ga - wa).max()
    assert abs(gh.sum() - 1.0) < 1e-9 and abs(ga.sum() - 1.0) < 1e-9
    return info


def test_star_hub_authority(spark):
    # leaves → center: the center is the sole authority, leaves are
    # the (equal) hubs.
    pairs = [(i, 0) for i in range(1, 6)]
    df = edges_df(spark, pairs)
    scores, info = hits(df, tol=1e-10, max_iter=50)
    got = {r.v_id: (r.hub, r.auth) for r in scores.collect()}
    assert got[0][1] == 1.0  # all authority mass at the center
    assert got[0][0] == 0.0  # center points at nothing
    for i in range(1, 6):
        assert abs(got[i][0] - 0.2) < 1e-12
        assert got[i][1] == 0.0
    assert info.converged


def test_random_graph_parity(spark):
    rng = random.Random(9)
    n = 50
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(250)]
    pairs = [p for p in pairs if p[0] != p[1]]
    info = _assert_parity(spark, pairs)
    assert info.converged


def test_parallel_edges_and_isolated(spark):
    pairs = [(1, 2), (1, 2), (2, 3), (3, 1), (4, 1)]
    _assert_parity(spark, pairs, vertices=[1, 2, 3, 4, 77])


def test_salted_matches_unsalted(spark):
    rng = random.Random(13)
    pairs = [(rng.randrange(30), 0) for _ in range(150)]  # hot authority
    pairs += [(0, rng.randrange(1, 30)) for _ in range(150)]  # hot hub
    pairs = [p for p in pairs if p[0] != p[1]]
    df = edges_df(spark, pairs)
    s1, i1 = hits(df, tol=1e-9, max_iter=80, salt_partitions=8)
    s2, i2 = hits(df, tol=1e-9, max_iter=80, salt_partitions=1)
    assert i1.salted and not i2.salted
    g1 = {r.v_id: (r.hub, r.auth) for r in s1.collect()}
    g2 = {r.v_id: (r.hub, r.auth) for r in s2.collect()}
    for k in g1:
        assert abs(g1[k][0] - g2[k][0]) < 1e-9
        assert abs(g1[k][1] - g2[k][1]) < 1e-9


def test_checkpoint_resume_equals_fresh(spark, tmp_ckpt):
    rng = random.Random(4)
    pairs = [(rng.randrange(25), rng.randrange(25)) for _ in range(120)]
    pairs = [p for p in pairs if p[0] != p[1]]
    df = edges_df(spark, pairs)

    fresh, fi = hits(df, tol=1e-9, max_iter=60)

    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    hits(df, tol=1e-9, max_iter=3, checkpoint=ck)
    assert ck.committed_iterations() == [1, 2, 3]
    resumed, ri = hits(df, tol=1e-9, max_iter=60, checkpoint=ck)
    assert ri.resumed_from == 3
    assert ri.rounds == fi.rounds
    g1 = {r.v_id: (r.hub, r.auth) for r in fresh.collect()}
    g2 = {r.v_id: (r.hub, r.auth) for r in resumed.collect()}
    for k in g1:
        assert abs(g1[k][0] - g2[k][0]) < 1e-12
        assert abs(g1[k][1] - g2[k][1]) < 1e-12

    # resume at the fixpoint is a no-op
    again, ai = hits(df, tol=1e-9, max_iter=60, checkpoint=ck)
    assert ai.converged and ai.rounds == fi.rounds


def test_empty_graph(spark):
    df = edges_df(spark, [])
    scores, info = hits(df, max_iter=10)
    assert scores.count() == 0 and info.converged


def test_fixed_k_job_budget(spark):
    # set-up is the edge count, one probe over the vertex table (vertex
    # count and hot-key degrees) and the initial cut; every round is one
    # job — both L1 normalizers are driver literals
    pairs = [(i, (i + 1) % 6) for i in range(6)] + [(0, 3), (4, 1)]
    df = edges_df(spark, pairs)
    (_s, info), jobs = count_jobs(spark, lambda: hits(df, tol=0.0, max_iter=5))
    assert info.rounds == 5 and not info.salted
    assert jobs <= info.rounds + 3, jobs
