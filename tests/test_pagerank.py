"""PageRank parity vs numpy oracle + closed-form graphs (SURVEY §5)."""

from __future__ import annotations

import random

import numpy as np
import pytest

from cminer_spark.operators import pagerank
from cminer_spark.plans import SuperstepCheckpoint

from tests.conftest import count_jobs, edges_df
from tests.oracles import pagerank_oracle


def _assert_parity(spark, pairs, vertices=None, seeds=None, **kw):
    df = edges_df(spark, pairs)
    vdf = (
        spark.createDataFrame([(int(v),) for v in vertices], "v_id long")
        if vertices
        else None
    )
    ranks, info = pagerank(
        df, tol=1e-9, max_iter=200, vertices=vdf, seeds=seeds, **kw
    )
    got = {r.v_id: r.rank for r in ranks.collect()}
    want = pagerank_oracle(
        [(p[0], p[1], 1.0) for p in pairs],
        vertices=vertices,
        tol=1e-9,
        seeds=seeds,
    )
    assert set(got) == set(want)
    a = np.array([got[k] for k in sorted(got)])
    b = np.array([want[k] for k in sorted(want)])
    assert np.allclose(a, b, atol=1e-6), np.abs(a - b).max()
    assert abs(a.sum() - 1.0) < 1e-6
    return info


def test_directed_cycle_uniform(spark):
    n = 10
    pairs = [(i, (i + 1) % n) for i in range(n)]
    df = edges_df(spark, pairs)
    ranks, info = pagerank(df, tol=1e-10, max_iter=100)
    vals = [r.rank for r in ranks.collect()]
    assert len(vals) == n
    assert np.allclose(vals, 1.0 / n, atol=1e-9)
    assert info.converged


# mode -> (pagerank kwargs, job budget for k supersteps / it iterations)
MODES = {
    "fixed": ({"tol": 0.0}, lambda k, it: k + 2),
    "tol": ({"tol": 1e-6, "max_iter": 200}, lambda k, it: it + 4),
    "durable": ({"tol": 0.0, "durable": True}, lambda k, it: 2 * k + 4),
}


@pytest.mark.parametrize("mode", sorted(MODES))
def test_fixed_k_parity_and_job_budget(spark, tmp_ckpt, mode):
    """Each mode matches the power-iteration oracle (k steps, or to
    convergence; dangling and isolated vertices included) within its
    job budget: fixed-k is the edge count, the set-up cut and one job
    per superstep; convergence mode runs one round more than its
    iterations (the stop reads a round late); a durable round adds its
    background parquet write (the lineage rides it)."""
    k = 5
    pairs = [(i, (i + 1) % 6) for i in range(6)] + [(0, 3), (2, 7), (7, 8)]
    df = edges_df(spark, pairs)
    vdf = spark.createDataFrame([(9,)], "v_id long")
    kw, budget = MODES[mode]
    kw = {"max_iter": k} | kw
    if kw.pop("durable", False):
        kw["checkpoint"] = SuperstepCheckpoint(spark, tmp_ckpt)
    (ranks, info), jobs = count_jobs(
        spark, lambda: pagerank(df, vertices=vdf, **kw)
    )
    if mode == "tol":
        assert info.converged
        assert len(info.superstep_secs) == info.rounds == info.iterations + 1
        want = pagerank_oracle(
            [(s, d, 1.0) for s, d in pairs], vertices=[9], tol=1e-6
        )
    else:
        assert info.iterations == k and len(info.superstep_secs) == k
        want = pagerank_oracle(
            [(s, d, 1.0) for s, d in pairs], vertices=[9], tol=0.0, max_iter=k
        )
    assert jobs <= budget(k, info.iterations), jobs
    got = {r.v_id: r.rank for r in ranks.collect()}
    assert set(got) == set(want)
    a = np.array([got[v] for v in sorted(got)])
    b = np.array([want[v] for v in sorted(want)])
    assert np.allclose(a, b, atol=1e-12), np.abs(a - b).max()


def test_star_hub(spark):
    # leaves → hub; hub dangling. Closed form: leaves get (1-d)/n +
    # d*dangling/n each; verified against the oracle.
    pairs = [(i, 0) for i in range(1, 9)]
    _assert_parity(spark, pairs)


def test_dangling_chain_and_isolated(spark):
    pairs = [(1, 2), (2, 3), (3, 4)]
    _assert_parity(spark, pairs, vertices=[1, 2, 3, 4, 100, 200])


def test_random_graph_parity(spark):
    rng = random.Random(7)
    n = 60
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    pairs = [p for p in pairs if p[0] != p[1]]
    info = _assert_parity(spark, pairs)
    assert info.converged


def test_parallel_edges_weighting(spark):
    # multigraph: duplicated edge doubles its weight share
    pairs = [(1, 2), (1, 2), (1, 3), (3, 1), (2, 1)]
    _assert_parity(spark, pairs)


def test_salted_matches_unsalted(spark):
    rng = random.Random(11)
    pairs = [(rng.randrange(30), 0) for _ in range(200)]  # hot dst 0
    pairs += [(rng.randrange(30), rng.randrange(30)) for _ in range(100)]
    pairs = [p for p in pairs if p[0] != p[1]]
    df = edges_df(spark, pairs)
    r1, i1 = pagerank(df, tol=1e-9, max_iter=100, salt_partitions=8)
    r2, i2 = pagerank(df, tol=1e-9, max_iter=100, salt_partitions=1)
    assert i1.salted and not i2.salted
    g1 = {r.v_id: r.rank for r in r1.collect()}
    g2 = {r.v_id: r.rank for r in r2.collect()}
    a = np.array([g1[k] for k in sorted(g1)])
    b = np.array([g2[k] for k in sorted(g2)])
    assert np.allclose(a, b, atol=1e-9)


def test_checkpoint_resume_equals_fresh(spark, tmp_ckpt):
    rng = random.Random(3)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(200)]
    pairs = [p for p in pairs if p[0] != p[1]]
    df = edges_df(spark, pairs)

    fresh, fresh_info = pagerank(df, tol=1e-9, max_iter=50)

    # interrupted run: stop after 3 supersteps
    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    pagerank(df, tol=1e-9, max_iter=3, checkpoint=ck)
    # 3 iterations commit 4 rounds: round i + 1 holds iteration i's ranks
    assert ck.committed_iterations() == [1, 2, 3, 4]

    resumed, info = pagerank(df, tol=1e-9, max_iter=50, checkpoint=ck)
    assert info.resumed_from == 3
    g1 = {r.v_id: r.rank for r in fresh.collect()}
    g2 = {r.v_id: r.rank for r in resumed.collect()}
    a = np.array([g1[k] for k in sorted(g1)])
    b = np.array([g2[k] for k in sorted(g2)])
    assert np.allclose(a, b, atol=1e-12)
    assert info.iterations == fresh_info.iterations

    # lineage metadata recorded per superstep
    _, _, meta = ck.latest()
    assert meta["partitions"] and all("content_hash" in p for p in meta["partitions"])
    assert "stop" in meta["metrics"]  # the L1 delta (0 once under tol)


def test_resume_after_convergence_is_noop(spark, tmp_ckpt):
    """Resuming a checkpoint whose last committed superstep already met
    the convergence criterion must return THAT state without running an
    extra superstep — otherwise the resumed ranks drift past what the
    uninterrupted run returned (resume == fresh, exactly)."""
    rng = random.Random(5)
    pairs = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
    df = edges_df(spark, [p for p in pairs if p[0] != p[1]])
    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    full, fi = pagerank(df, tol=1e-9, max_iter=60, checkpoint=ck)
    assert fi.converged
    again, ai = pagerank(df, tol=1e-9, max_iter=60, checkpoint=ck)
    assert ai.resumed_from == fi.iterations
    assert ai.iterations == fi.iterations and ai.converged
    g1 = {r.v_id: r.rank for r in full.collect()}
    g2 = {r.v_id: r.rank for r in again.collect()}
    assert g1 == g2


def test_personalized_seeds_parity(spark):
    """Personalized PageRank (seeds reset vector) vs the numpy oracle:
    teleport AND dangling mass re-enter through the seed set only."""
    rng = random.Random(21)
    n = 40
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(180)]
    pairs = [p for p in pairs if p[0] != p[1]]
    info = _assert_parity(spark, pairs, seeds=[3, 11, 27])
    assert info.converged


def test_personalized_single_seed_with_dangling(spark):
    # chain into a dangling sink; all teleport + dangling mass returns
    # to the single seed, so the seed's rank dominates.
    pairs = [(1, 2), (2, 3), (3, 4)]
    _assert_parity(spark, pairs, vertices=[1, 2, 3, 4, 99], seeds=[1])


def test_personalized_seed_mass_locality(spark):
    # Two disconnected cycles; seeding only cycle A ⇒ cycle B's rank
    # is exactly 0 (no teleport ever lands there).
    a = [(i, (i + 1) % 5) for i in range(5)]
    b = [(10 + i, 10 + (i + 1) % 5) for i in range(5)]
    df = edges_df(spark, a + b)
    ranks, _ = pagerank(df, tol=1e-10, max_iter=100, seeds=[0, 1, 2, 3, 4])
    got = {r.v_id: r.rank for r in ranks.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(got[10 + i] == 0.0 for i in range(5))
    assert all(got[i] > 0.0 for i in range(5))


def test_personalized_empty_seeds_raises(spark):
    df = edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError):
        pagerank(df, seeds=[])


def test_personalized_missing_seed_raises(spark):
    """A seed absent from the vertex set must error loudly — silently
    shrinking the reset vector would break the Sum(rank)=1 invariant
    and drift every rank."""
    df = edges_df(spark, [(1, 2), (2, 3)])
    with pytest.raises(ValueError, match="not in graph.*99"):
        pagerank(df, seeds=[1, 99])


def test_warm_start_same_fixpoint_fewer_supersteps(spark):
    import random

    rng = random.Random(17)
    pairs = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(180)})
    pairs = [p for p in pairs if p[0] != p[1]]
    df = edges_df(spark, pairs)
    cold_ranks, cold = pagerank(df, tol=1e-8, max_iter=200)
    cold_ranks = cold_ranks.persist()
    cold_ranks.count()
    # perturb the graph slightly (drop a few edges) and warm-start
    # from the stale ranks: same fixpoint, fewer supersteps than cold
    pairs2 = pairs[:-5]
    df2 = edges_df(spark, pairs2)
    warm_ranks, warm = pagerank(df2, tol=1e-8, max_iter=200, init_ranks=cold_ranks)
    fresh_ranks, fresh = pagerank(df2, tol=1e-8, max_iter=200)
    got = {r.v_id: r.rank for r in warm_ranks.collect()}
    want = {r.v_id: r.rank for r in fresh_ranks.collect()}
    assert set(got) == set(want)
    a = np.array([got[k] for k in sorted(got)])
    b = np.array([want[k] for k in sorted(want)])
    assert np.allclose(a, b, atol=1e-6), np.abs(a - b).max()
    assert abs(a.sum() - 1.0) < 1e-9
    assert warm.iterations < fresh.iterations
    cold_ranks.unpersist()


def test_warm_start_normalizes_arbitrary_input(spark):
    # un-normalized / partial init vector: missing vertices get 1/n and
    # the vector is rescaled to sum 1 before the first superstep; on the
    # 8-cycle any start tends to 1/8, so five fixed steps are compared
    # with the power iteration from the renormalized vector itself
    n, k = 8, 5
    pairs = [(i, (i + 1) % n) for i in range(n)]
    df = edges_df(spark, pairs)
    init = spark.createDataFrame(
        [(0, 100.0), (1, 50.0)], "v_id long, rank double"
    )
    ranks, info = pagerank(df, tol=0.0, max_iter=k, init_ranks=init)
    got = dict(sorted((r.v_id, r.rank) for r in ranks.collect()))
    x0 = {v: {0: 100.0, 1: 50.0}.get(v, 1.0 / n) for v in range(n)}
    want = pagerank_oracle(
        [(s, d, 1.0) for s, d in pairs], tol=0.0, max_iter=k, init=x0
    )
    assert info.iterations == k and got.keys() == want.keys()
    a = np.array(list(got.values()))
    b = np.array([want[v] for v in got])
    assert np.allclose(a, b, atol=1e-12), np.abs(a - b).max()
    assert not np.allclose(a, 1.0 / n, atol=1e-3)  # still far from uniform
    assert abs(a.sum() - 1.0) < 1e-9


def test_explicit_weight_column(spark):
    # non-uniform weight column (not just multigraph duplication)
    rows = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 5.0), (3, 2, 0.5)]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    ranks, info = pagerank(df, tol=1e-9, max_iter=300)
    got = {r.v_id: r.rank for r in ranks.collect()}
    want = pagerank_oracle(rows, tol=1e-9)
    a = np.array([got[k] for k in sorted(got)])
    b = np.array([want[k] for k in sorted(want)])
    assert np.allclose(a, b, atol=1e-7), np.abs(a - b).max()
    assert abs(a.sum() - 1.0) < 1e-9
