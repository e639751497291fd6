"""Katz centrality over the edge table: ``x ← β + α·Aᵀx`` iterated to
convergence (or a fixed iteration budget).

Completes the centrality family next to PageRank (random-walk), HITS
(mutual reinforcement) and harmonic closeness: Katz counts ALL
incoming walks, damped by length — the standard influence measure
when dangling-mass normalization is unwanted. Converges for
``alpha < 1/λ_max(A)``.

Scale design: one round body on
:func:`~cminer_spark.plans.loop.superstep_loop` (loop conf,
``Observation`` stop, ``localCheckpoint`` state cut):

* adjacency collapsed once to ``(src, dst, w)`` multigraph weights,
  hash-partitioned on ``src`` at the loop's partition count and
  persisted — each round shuffles only the score vector;
* a round joins the state on ``src`` (``shuffle_hash`` hinted — no
  per-round sort-merge re-sorts), sums ``w·katz`` per ``dst`` (map-side
  partial aggregate: hub in-degree skew needs no salting) and left-joins
  the sums back onto the previous state, which already holds every
  vertex;
* ``tol > 0`` folds the L1 test into the driver's stop aggregate, so
  a round is one Spark job in both modes; ``tol == 0`` watches
  nothing. The state is cut with ``localCheckpoint``, which beat the
  parquet store here too (see
  :class:`~cminer_spark.plans.checkpoint.EphemeralStateStore`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import vertex_set
from cminer_spark.plans.loop import LoopInfo, superstep_loop
from cminer_spark.plans.loopconf import iteration_partitions, superstep_conf

__all__ = ["katz"]


def katz(
    edges: DataFrame,
    alpha: float = 0.01,
    beta: float = 1.0,
    max_iter: int = 20,
    tol: float = 0.0,
    init_scores: DataFrame | None = None,
) -> tuple[DataFrame, LoopInfo]:
    """Returns ``((v_id, katz), info)`` — unnormalized Katz scores
    (``katz = beta`` exactly for vertices with no in-edges).

    ``tol > 0`` stops early when the L1 delta between supersteps drops
    below it (``info.history`` holds the deltas, the last one read as
    0 once it is under ``tol``); ``tol == 0`` runs exactly ``max_iter``
    supersteps (the oracle-checkable mode). ``init_scores``
    (``(v_id, katz)``) WARM STARTS the iteration — e.g. from
    yesterday's scores after a delta ingest; the update
    ``x ← β + α·Aᵀx`` is a contraction for ``α < 1/λ_max``, so the
    fixpoint is unchanged and only the superstep count drops
    (vertices absent from it start at β). Only meaningful with
    ``tol > 0``.
    """
    spark = edges.sparkSession
    adj = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    # AQE off for the set-up: the count is one job, and the cached
    # adjacency's plan is built without AQE
    with superstep_conf(spark, None):
        n_adj = adj.count()
        adj = adj.repartition(iteration_partitions(spark, n_adj), "src").persist()

    x0 = vertex_set(adj)
    if init_scores is not None:
        x0 = x0.join(
            init_scores.select("v_id", F.col("katz").alias("_k0")), "v_id", "left"
        ).select("v_id", F.coalesce("_k0", F.lit(float(beta))).alias("katz"))
    else:
        x0 = x0.withColumn("katz", F.lit(float(beta)))

    def step(x: DataFrame, _rnd: int) -> DataFrame:
        msgs = (
            adj.join(
                x.select(F.col("v_id").alias("src"), F.col("katz").alias("_k")).hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("v_id"))
            .agg(F.sum(F.col("w") * F.col("_k")).alias("m"))
        )
        return x.join(msgs.hint("shuffle_hash"), "v_id", "left").select(
            "v_id",
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce(F.col("m"), F.lit(0.0))
            ).alias("katz"),
            F.col("katz").alias("prev_katz"),
        )

    l1 = F.sum(F.abs(F.col("katz") - F.col("prev_katz")))
    x, info = superstep_loop(
        x0,
        step,
        n_rows=n_adj,
        max_rounds=max_iter,
        stop=F.when(l1 >= tol, l1).otherwise(0.0) if tol > 0 else None,
        name="katz",
    )
    adj.unpersist()
    return x, info
