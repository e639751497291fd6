"""Densest subgraph — distributed (1+ε)-peeling supersteps.

Charikar's greedy peel (repeatedly drop the min-degree vertex) is
inherently sequential; the distributed variant (Bahmani, Kumar,
Vassilvitskii 2012) peels ALL vertices of degree ≤ 2(1+ε)·ρ per
round (ρ = current |E|/|V| density of the undirected simple
projection), finishing in O(log₁₊ε |V|) rounds with a 2(1+ε)
approximation of the maximum-density subgraph. The standard
community-core / spam-farm / hub-nucleus extraction primitive over
the transcript link graph.

Determinism: the peel rule is a pure threshold on integer degrees vs
a density scalar computed identically on both engines (the same
``(2·(1+ε)·E)/V`` double expression), so every round's survivor set —
and therefore the reported best round — is engine-portable; the gate
(``densest_subgraph``) unrolls the same fixed-round peel in DuckDB.

Scale design:

* one round = one combinable degree aggregate over surviving edges +
  one scalar (|E|, |V|) fetch (the convergence-probe convention) +
  one anti-join peel; the edge set shrinks geometrically;
* survivors are tracked as a removal-round tag, so reconstructing the
  best round's subgraph is a filter, not a stored per-round copy;
* no sorts, no windows; hub degrees reduce map-side.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import undirected_adjacency
from cminer_spark.plans.checkpoint import truncate_lineage

__all__ = ["densest_subgraph", "DensestInfo"]


@dataclass
class DensestInfo:
    rounds: int = 0
    best_round: int = 0
    best_density: float = 0.0
    densities: list = field(default_factory=list)


def densest_subgraph(
    edges: DataFrame,
    eps: float = 0.1,
    max_rounds: int = 30,
) -> tuple[DataFrame, DensestInfo]:
    """2(1+ε)-approximate densest subgraph of the undirected simple
    projection of ``edges(src, dst)``.

    Returns ``(df(v_id), info)`` — the vertex set of the densest
    round's subgraph (ties → the earliest round), with
    ``info.best_density = |E(S)| / |S|`` and the per-round density
    trace. Runs until the graph empties or ``max_rounds``.
    """
    # canonical undirected simple edges (a < b), self-loops dropped
    sym = undirected_adjacency(edges)
    und = (
        sym.where(F.col("v") < F.col("nbr"))
        .select(F.col("v").alias("a"), F.col("nbr").alias("b"))
        .persist()
    )
    info = DensestInfo()
    cur = und
    # removal-round tags; survivors of the whole run keep NULL
    removed: DataFrame | None = None
    thr_mult = 2.0 * (1.0 + float(eps))

    for rnd in range(0, max_rounds + 1):
        cur = truncate_lineage(cur).persist()
        verts = cur.select(F.col("a").alias("v")).union(
            cur.select(F.col("b").alias("v"))
        )
        n_e = cur.count()
        n_v = verts.distinct().count()
        if n_v == 0:
            cur.unpersist()
            break
        density = n_e / n_v
        info.rounds = rnd
        info.densities.append(round(density, 9))
        if density > info.best_density:
            info.best_density = density
            info.best_round = rnd
        if rnd == max_rounds:
            # final round only records its density — a peel here could
            # never change the argmax set, so skip the dead work (and
            # release the last cached state)
            cur.unpersist()
            break
        thr = (thr_mult * n_e) / n_v
        deg = verts.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
        peel = deg.where(F.col("d") <= thr).select("v")
        nxt = (
            cur.join(
                peel.select(F.col("v").alias("a")).hint("shuffle_hash"),
                "a",
                "left_anti",
            )
            .join(
                peel.select(F.col("v").alias("b")).hint("shuffle_hash"),
                "b",
                "left_anti",
            )
        )
        # a vertex leaves the subgraph either by being peeled OR by
        # losing its last edge to peeled neighbors — tag the round it
        # LEAVES the surviving edge set, so S_r reconstruction matches
        # the surviving subgraph's vertex set exactly (an
        # isolated-but-unpeeled hub must not haunt later rounds)
        next_verts = nxt.select(F.col("a").alias("v")).union(
            nxt.select(F.col("b").alias("v"))
        )
        gone = (
            verts.distinct()
            .join(next_verts.distinct(), "v", "left_anti")
            .select("v", F.lit(rnd).cast("long").alias("removal_round"))
        )
        removed = (
            gone
            if removed is None
            else truncate_lineage(removed.unionByName(gone))
        )
        prev = cur
        cur = nxt
        prev.unpersist()

    all_v = und.select(F.col("a").alias("v")).union(
        und.select(F.col("b").alias("v"))
    ).distinct()
    if removed is None:
        best = all_v.select(F.col("v").alias("v_id"))
    else:
        best = (
            all_v.join(removed, "v", "left")
            .where(
                F.col("removal_round").isNull()
                | (F.col("removal_round") >= info.best_round)
            )
            .select(F.col("v").alias("v_id"))
        )
    und.unpersist()
    return best, info
