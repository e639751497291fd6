"""eigenvector_centrality vs numpy power iteration (same fixed-k
schedule) and vs the converged principal eigenvector."""

from __future__ import annotations

import random

import numpy as np
import pytest

from cminer_spark.operators import eigenvector_centrality
from tests.conftest import count_jobs


def _numpy_power(edges, k: int):
    """Fixed-k power iteration, same operation order as the engine:
    x ← Aᵀx̂ with x̂ normalized before the multiply."""
    n = 1 + max(max(a, b) for a, b in edges)
    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] += 1.0  # multigraph multiplicity
    x = np.ones(n) / np.sqrt(n)
    for _ in range(k):
        m = A.T @ x
        nrm = np.linalg.norm(m)
        x = m / nrm
    return x


def _strongly_connected_edges(seed: int, n: int = 25, extra: int = 60):
    rng = random.Random(seed)
    edges = [(i, (i + 1) % n) for i in range(n)]  # cycle => irreducible
    edges += [
        (rng.randrange(n), rng.randrange(n)) for _ in range(extra)
    ]
    return edges


@pytest.mark.parametrize("seed", [3, 11])
def test_fixed_k_matches_numpy(spark, seed):
    edges = _strongly_connected_edges(seed)
    df = spark.createDataFrame(edges, "src long, dst long")
    scores, info = eigenvector_centrality(df, max_iter=5, tol=0.0)
    got = {r["v_id"]: r["score"] for r in scores.collect()}
    want = _numpy_power(edges, 5)
    # self-loop rows (a, a) may exist; vertex set = all endpoints
    verts = {a for a, _ in edges} | {b for _, b in edges}
    assert set(got) == verts
    for v in verts:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    assert info.rounds == 5 and not info.converged


def test_convergence_matches_principal_eigenvector(spark):
    edges = _strongly_connected_edges(42, n=20, extra=50)
    df = spark.createDataFrame(edges, "src long, dst long")
    scores, info = eigenvector_centrality(df, max_iter=200, tol=1e-12)
    assert info.converged
    n = 20
    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] += 1.0
    w, v = np.linalg.eig(A.T)
    i = int(np.argmax(w.real))
    principal = np.abs(v[:, i].real)
    principal /= np.linalg.norm(principal)
    got = np.array(
        [dict((r["v_id"], r["score"]) for r in scores.collect())[j] for j in range(n)]
    )
    assert np.allclose(got, principal, atol=1e-5)
    # λ_max estimate from the iteration agrees with numpy
    assert info.history[-1] == pytest.approx(
        float(w.real.max()), abs=1e-6
    )
    # unit norm
    assert np.linalg.norm(got) == pytest.approx(1.0, abs=1e-9)


def test_dag_mass_dieout_raises(spark):
    # path 0→1→2: after 3 steps all walk mass has left the graph
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="zero vector"):
        eigenvector_centrality(df, max_iter=10, tol=0.0)


def test_weight_col(spark):
    # weighted 2-cycle with asymmetric weights: stationary direction
    # still uniform? no — check against numpy with explicit weights
    rows = [(0, 1, 3.0), (1, 0, 1.0), (1, 1, 2.0)]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    scores, _ = eigenvector_centrality(df, max_iter=30, tol=1e-13, weight_col="weight")
    A = np.array([[0.0, 3.0], [1.0, 2.0]])
    w, v = np.linalg.eig(A.T)
    i = int(np.argmax(w.real))
    principal = np.abs(v[:, i].real)
    principal /= np.linalg.norm(principal)
    got = {r["v_id"]: r["score"] for r in scores.collect()}
    assert got[0] == pytest.approx(principal[0], abs=1e-6)
    assert got[1] == pytest.approx(principal[1], abs=1e-6)


def test_fixed_k_job_budget(spark):
    # set-up is the adjacency count and the initial cut (up to three jobs
    # under AQE; it observes the first norm); every round is one job, and
    # the result is a projection of the last round's cut
    edges = _strongly_connected_edges(5, n=10, extra=10)
    df = spark.createDataFrame(edges, "src long, dst long")
    (_x, info), jobs = count_jobs(
        spark, lambda: eigenvector_centrality(df, max_iter=5, tol=0.0)
    )
    assert info.rounds == 5 and len(info.history) == 5
    assert jobs <= info.rounds + 4, jobs
