"""Unit tests for Katz centrality: closed form on a path, numpy
iteration parity on a random multigraph, convergence flag."""

from __future__ import annotations

import numpy as np

from cminer_spark.operators.katz import katz
from tests.conftest import count_jobs, edges_df


def test_katz_path_closed_form(spark):
    # 0 -> 1 -> 2, alpha=0.1, beta=1: x0 has no in-edges → 1;
    # x1 = 1 + 0.1*x0; x2 = 1 + 0.1*x1 (after enough iterations)
    edges = edges_df(spark, [(0, 1), (1, 2)])
    scores, info = katz(edges, alpha=0.1, beta=1.0, max_iter=10, tol=1e-12)
    got = {r.v_id: r.katz for r in scores.collect()}
    assert abs(got[0] - 1.0) < 1e-9
    assert abs(got[1] - 1.1) < 1e-9
    assert abs(got[2] - 1.11) < 1e-9
    assert info.converged


def test_katz_matches_numpy_iteration(spark):
    rng = np.random.default_rng(11)
    n = 30
    pairs = [
        (int(rng.integers(n)), int(rng.integers(n))) for _ in range(120)
    ]
    edges = edges_df(spark, pairs)
    k, alpha, beta = 6, 0.05, 1.0
    scores, info = katz(edges, alpha=alpha, beta=beta, max_iter=k, tol=0.0)
    got = {r.v_id: r.katz for r in scores.collect()}

    # numpy reference on the same multigraph (parallel edges add)
    vids = sorted({v for p in pairs for v in p})
    idx = {v: i for i, v in enumerate(vids)}
    A = np.zeros((len(vids), len(vids)))
    for s, d in pairs:
        A[idx[s], idx[d]] += 1.0
    x = np.full(len(vids), beta)
    for _ in range(k):
        x = beta + alpha * (A.T @ x)
    for v in vids:
        assert abs(got[v] - x[idx[v]]) < 1e-9, v
    assert info.rounds == k and not info.converged


def test_katz_self_loop_geometric(spark):
    # single self-loop vertex: x = 1 + a + a^2 + ... -> 1/(1-a)
    edges = edges_df(spark, [(5, 5)])
    scores, info = katz(edges, alpha=0.5, beta=1.0, max_iter=60, tol=1e-12)
    got = scores.collect()[0]
    assert abs(got.katz - 2.0) < 1e-6
    assert info.converged


def test_warm_start_same_fixpoint_fewer_supersteps(spark):
    import random

    rng = random.Random(31)
    pairs = sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    pairs = [p for p in pairs if p[0] != p[1]]
    df = spark.createDataFrame(pairs, "src long, dst long")
    cold_x, cold = katz(df, alpha=0.05, tol=1e-9, max_iter=100)
    cold_x = cold_x.persist()
    cold_x.count()
    warm_x, warm = katz(df, alpha=0.05, tol=1e-9, max_iter=100, init_scores=cold_x)
    a = {r.v_id: r.katz for r in warm_x.collect()}
    b = {r.v_id: r.katz for r in cold_x.collect()}
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-7
    assert warm.rounds < cold.rounds
    cold_x.unpersist()


def test_fixed_k_job_budget(spark):
    # set-up is the adjacency count and the initial cut (a shuffle, up to
    # three jobs under AQE); every round is one job, and the result is the
    # last round's cut
    df = edges_df(spark, [(i, (i + 1) % 6) for i in range(6)] + [(0, 3)])
    (_x, info), jobs = count_jobs(spark, lambda: katz(df, alpha=0.1, max_iter=5))
    assert info.rounds == 5 and not info.converged
    assert jobs <= info.rounds + 4, jobs
