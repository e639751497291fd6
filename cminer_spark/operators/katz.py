"""Katz centrality over the edge table: ``x ← β + α·Aᵀx`` iterated to
convergence (or a fixed iteration budget).

Completes the centrality family next to PageRank (random-walk), HITS
(mutual reinforcement) and harmonic closeness: Katz counts ALL
incoming walks, damped by length — the standard influence measure
when dangling-mass normalization is unwanted. Converges for
``alpha < 1/λ_max(A)``.

Scale design (same skeleton as ``pagerank.py``, simpler because there
is no dangling/teleport mass to conserve):

* adjacency collapsed once to ``(src, dst, w)`` multigraph weights and
  persisted — each superstep shuffles only the rank vector;
* the per-superstep plan is join-on-src (``shuffle_hash`` hinted — no
  per-superstep sort-merge re-sorts) + ``groupBy(dst)``, whose hash
  aggregate is map-side partial — hub vertices (tool nodes with 10⁷
  in-edges) combine locally before the exchange, so in-degree skew
  needs no salting here;
* state rides the :class:`EphemeralStateStore` parquet double-buffer.
  Katz has not been measured against ``localCheckpoint``, which beat
  the store on every loop measured so far (see the store's
  docstring); a port needs its own A/B. The L1 convergence probe
  rides the state write via ``observe`` — one job per superstep, no
  separate aggregate action.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cminer_spark.plans.checkpoint import EphemeralStateStore, truncate_lineage
from cminer_spark.plans.loopconf import superstep_conf

__all__ = ["katz", "KatzInfo"]


@dataclass
class KatzInfo:
    iterations: int = 0
    n_vertices: int = 0
    deltas: list = field(default_factory=list)
    converged: bool = False


def katz(
    edges: DataFrame,
    alpha: float = 0.01,
    beta: float = 1.0,
    max_iter: int = 20,
    tol: float = 0.0,
    init_scores: DataFrame | None = None,
) -> tuple[DataFrame, KatzInfo]:
    """Returns ``((v_id, katz), info)`` — unnormalized Katz scores
    (``katz = beta`` exactly for vertices with no in-edges).

    ``tol > 0`` stops early when the L1 delta between supersteps drops
    below it; ``tol == 0`` runs exactly ``max_iter`` supersteps (the
    oracle-checkable mode). ``init_scores`` (``(v_id, katz)``) WARM
    STARTS the iteration — e.g. from yesterday's scores after a delta
    ingest; the update ``x ← β + α·Aᵀx`` is a contraction for
    ``α < 1/λ_max``, so the fixpoint is unchanged and only the
    superstep count drops (vertices absent from it start at β). Only
    meaningful with ``tol > 0``.
    """
    adj = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .persist()
    )
    verts = (
        adj.select(F.col("src").alias("v_id"))
        .union(adj.select(F.col("dst").alias("v_id")))
        .distinct()
        .persist()
    )
    info = KatzInfo(n_vertices=verts.count())

    store = EphemeralStateStore(edges.sparkSession, "katz")
    if init_scores is not None:
        x = truncate_lineage(
            verts.join(
                init_scores.select("v_id", F.col("katz").alias("_k0")),
                "v_id",
                "left",
            ).select(
                "v_id", F.coalesce("_k0", F.lit(float(beta))).alias("katz")
            )
        )
    else:
        x = verts.withColumn("katz", F.lit(float(beta)))
    n_adj = adj.count()
    # loop-scoped config (plans/loopconf.py): graph-sized shuffle
    # partitions, AQE off — one scheduler job per superstep
    with superstep_conf(edges.sparkSession, n_adj):
        for i in range(max_iter):
            msgs = (
                adj.join(x.hint("shuffle_hash"), adj["src"] == x["v_id"])
                .groupBy("dst")
                .agg(F.sum(F.col("w") * F.col("katz")).alias("m"))
            )
            nxt = (
                verts.join(msgs.hint("shuffle_hash"), verts["v_id"] == msgs["dst"], "left")
                .join(
                    x.select(F.col("v_id").alias("_pv"), F.col("katz").alias("_pk")),
                    verts["v_id"] == F.col("_pv"),
                )
                .select(
                    "v_id",
                    (
                        F.lit(float(beta))
                        + F.lit(float(alpha)) * F.coalesce(F.col("m"), F.lit(0.0))
                    ).alias("katz"),
                    "_pk",
                )
            )
            obs = Observation(f"katz_{i}")
            to_save = nxt.observe(
                obs, F.sum(F.abs(F.col("katz") - F.col("_pk"))).alias("l1")
            ).select("v_id", "katz")
            x = store.save(to_save, i)
            delta = float(obs.get["l1"] or 0.0)
            info.deltas.append(delta)
            info.iterations = i + 1
            if tol > 0 and delta < tol:
                info.converged = True
                break
    adj.unpersist()
    verts.unpersist()
    # detach the result from the ephemeral store before deleting it
    result = truncate_lineage(x) if info.iterations else x
    store.close()
    return result, info
