"""Eigenvector centrality — power iteration ``x ← Aᵀx / ‖Aᵀx‖₂``.

Completes the centrality family (PageRank = random walk with
teleport, Katz = damped walk counts, HITS = bipartite mutual
reinforcement): eigenvector centrality is the principal left
eigenvector of the weighted adjacency — influence proportional to
the influence of in-neighbors, no damping, no teleport.

Scale design: one round body on
:func:`~cminer_spark.plans.loop.superstep_loop`, the shape of
:mod:`cminer_spark.operators.katz` (adjacency partitioned on ``src`` at
the loop's partition count and persisted, one shuffle-aggregate per
round, hub in-degree absorbed by the map-side partial aggregate):

* the L2 norm is NOT a separate job: each round saves the raw
  ``Aᵀx`` vector with ``Σx²`` folded into the state write as an
  ``Observation`` the round body owns, and the NEXT round multiplies
  by the scalar ``1/‖·‖`` driver-side literal — normalization is
  algebraically associative over the linear map, so normalizing one
  step late (and once at the end, in the returned projection) yields
  the identical unit vector while keeping intermediate magnitudes
  O(λ_max) instead of λ_maxᵏ;
* convergence (``tol > 0``) is the standard power-iteration
  eigenvalue test: ``‖Aᵀx̂‖₂`` of a unit ``x̂`` estimates λ_max; each
  round carries the previous estimate as a literal column, and the
  driver's stop aggregate reads 0 once successive estimates differ by
  < tol. One Spark job per round in both modes.

Vertices with no in-edges score exactly 0 from the first superstep
on. A graph whose reachable mass dies out (norm → 0) raises — the
principal eigenvector is not defined by power iteration there.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cminer_spark.operators.graph import vertex_set
from cminer_spark.plans.loop import LoopInfo, superstep_loop
from cminer_spark.plans.loopconf import iteration_partitions, superstep_conf

__all__ = ["eigenvector_centrality"]


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 20,
    tol: float = 0.0,
    weight_col: str | None = None,
) -> tuple[DataFrame, LoopInfo]:
    """Returns ``((v_id, score), info)`` with ``‖score‖₂ = 1``.

    ``tol == 0`` runs exactly ``max_iter`` supersteps (the
    oracle-checkable mode); ``tol > 0`` stops early when the λ_max
    estimate stabilizes. ``info.history`` holds the λ_max estimate of
    every superstep. ``weight_col=None`` uses multigraph edge
    multiplicity as the weight (parallel edges reinforce).
    """
    spark = edges.sparkSession
    weighted = weight_col is not None and weight_col in edges.columns
    cols = [F.col("src").cast("long"), F.col("dst").cast("long")]
    if weighted:
        cols.append(F.col(weight_col).cast("double").alias("_w"))
    adj = (
        edges.select(*cols)
        .groupBy("src", "dst")
        .agg(
            (F.sum("_w") if weighted else F.count(F.lit(1)).cast("double")).alias(
                "w"
            )
        )
    )
    # AQE off for the set-up: the count is one job, and the cached
    # adjacency's plan is built without AQE
    with superstep_conf(spark, None):
        n_adj = adj.count()
        adj = adj.repartition(iteration_partitions(spark, n_adj), "src").persist()

    # Σx² of the vector in the state, filled by the write that made it:
    # x̂0 is uniform, so the initial cut's Σx² is n
    sumsq = [Observation("eigen_ss_0")]
    x0 = (
        vertex_set(adj)
        .select(
            "v_id", F.lit(1.0).alias("x"), F.lit(None).cast("double").alias("lam")
        )
        .observe(sumsq[0], F.sum(F.col("x") * F.col("x")).alias("ss"))
    )

    def step(x: DataFrame, rnd: int) -> DataFrame:
        # one step late: normalize the previous raw vector on the way in
        norm = math.sqrt(float(sumsq[-1].get["ss"] or 0.0))
        xh = x.select(
            F.col("v_id").alias("src"), (F.col("x") / F.lit(norm)).alias("_x")
        )
        msgs = (
            adj.join(xh.hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("v_id"))
            .agg(F.sum(F.col("w") * F.col("_x")).alias("m"))
        )
        nxt = x.join(msgs.hint("shuffle_hash"), "v_id", "left").select(
            "v_id",
            F.coalesce("m", F.lit(0.0)).alias("x"),
            # x̂ was unit, so ‖Aᵀx̂‖₂ of the previous round estimates λ_max
            (F.lit(norm) if rnd > 1 else F.lit(None)).cast("double").alias("lam"),
        )
        sumsq.append(Observation(f"eigen_ss_{rnd}"))
        return nxt.observe(sumsq[-1], F.sum(F.col("x") * F.col("x")).alias("ss"))

    lam = F.sqrt(F.sum(F.col("x") * F.col("x")))
    x, info = superstep_loop(
        x0,
        step,
        n_rows=n_adj,
        max_rounds=max_iter,
        # the estimate, or 0 once it moved by < tol (a NULL previous
        # estimate never stops); a collapsed vector reads 0 too
        stop=F.when(F.abs(lam - F.max("lam")) < tol, 0.0).otherwise(lam),
        name="eigen",
    )
    adj.unpersist()
    norm = math.sqrt(float(sumsq[-1].get["ss"] or 0.0))
    if norm <= 0.0:
        raise ValueError(
            "power iteration collapsed to the zero vector "
            f"(superstep {info.rounds}) — eigenvector centrality undefined "
            "for this graph (e.g. a DAG whose walk mass dies out)"
        )
    if info.converged:
        info.history[-1] = norm
    return x.select("v_id", (F.col("x") / F.lit(norm)).alias("score")), info
