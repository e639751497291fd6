"""k-core decomposition — distributed h-index iteration, exact.

Implements the locality-based coreness algorithm of Montresor,
De Pellegrini & Miorandi, "Distributed k-Core Decomposition"
(IEEE TPDS 2013): every vertex starts at its degree and repeatedly
replaces its estimate with the H-index of its neighbors' estimates;
the (monotone, non-increasing) fixpoint is exactly the core number.
Convergence needs as many rounds as the longest chain along which a
lower estimate must propagate — O(graph diameter) worst case, e.g. a
path of n vertices takes ~n/2 rounds (the core-1 boundary moves one
vertex inward per round from each end). On transcript graphs this is
bounded by the longest conversation chain, not |V|; dense regions
(cliques, hubs) settle in a handful of rounds. Pass ``max_rounds``
accordingly, or use a :class:`SuperstepCheckpoint` to resume.

Scale design:

* the per-vertex H-index is NOT a sort of the neighbor list (a hub
  with 10^7 neighbors would sort 10^7 rows in one window partition).
  H({x}) = max_c min(c, |{x ≥ c}|), so we aggregate neighbor
  estimates to ``(vertex, estimate, count)`` first — map-side combine
  bounds mapper output — and run the window over the DISTINCT
  estimate values per vertex (≤ max-degree values, typically tiny,
  and strictly shrinking as estimates converge);
* the symmetrized adjacency is built once, hash-partitioned on the
  join key into the loop's own partition count and persisted; each
  round shuffles only the |V|-sized estimate vector;
* rounds run on :func:`~cminer_spark.plans.loop.superstep_loop`: the
  changed-vertex count is its stop (one job per round), and a resume
  from a committed fixpoint runs zero rounds.

Semantics: undirected simple projection of ``edges(src, dst)`` —
parallel edges collapse, self-loops are ignored (the networkx
``core_number`` convention the tests compare against). Isolated
vertices get core 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cminer_spark.operators.graph import undirected_adjacency
from cminer_spark.plans.checkpoint import SuperstepCheckpoint
from cminer_spark.plans.loop import LoopInfo, superstep_loop
from cminer_spark.plans.loopconf import iteration_partitions, superstep_conf


def _hindex_round(sym: DataFrame, state: DataFrame) -> DataFrame:
    """One h-index round over ``sym(v, nbr)``:
    ``(v_id, core, core_prev)``."""
    # neighbor estimates, pre-aggregated to (vertex, estimate,
    # multiplicity) — the window below runs over DISTINCT estimate
    # values per vertex, never the raw neighbor list
    nb = sym.join(
        state.select(F.col("v_id").alias("nbr"), F.col("core").alias("c")).hint(
            "shuffle_hash"
        ),
        "nbr",
    ).select("v", "c")
    cnt = nb.groupBy("v", "c").agg(F.count(F.lit(1)).alias("k"))
    w = (
        Window.partitionBy("v")
        .orderBy(F.desc("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = (
        cnt.withColumn("ge", F.sum("k").over(w))
        .select("v", F.least(F.col("c"), F.col("ge")).alias("m"))
        .groupBy(F.col("v").alias("v_id"))
        .agg(F.max("m").alias("h"))
    )
    return state.join(h.hint("shuffle_hash"), "v_id", "left").select(
        "v_id",
        F.least(F.col("core"), F.coalesce("h", F.lit(0))).cast("long").alias("core"),
        F.col("core").alias("core_prev"),
    )


def core_numbers(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 100,
    checkpoint: SuperstepCheckpoint | None = None,
) -> tuple[DataFrame, LoopInfo]:
    """Exact core number per vertex. Returns
    ``(cores(v_id, core), info)``; ``info.history`` is the changed
    count per round. ``max_rounds`` with ``checkpoint=None`` and no
    convergence wanted: pass a small fixed value (the estimate after k
    rounds is a valid UPPER bound that the unrolled SQL gate
    mirrors)."""
    spark = edges.sparkSession
    # The distinct pairs are built once: counted into a cache (AQE off,
    # one job) that the nbr-partitioned copy is then read from.
    und = undirected_adjacency(edges).persist()
    with superstep_conf(spark, None):
        n_sym = und.count()
    sym = und.repartition(iteration_partitions(spark, n_sym), "nbr").persist()

    verts = sym.select(F.col("v").alias("v_id"))
    if vertices is not None:
        verts = verts.union(vertices.select("v_id"))
    deg = sym.groupBy(F.col("v").alias("v_id")).agg(F.count(F.lit(1)).alias("d"))
    state0 = verts.distinct().join(deg, "v_id", "left").select(
        "v_id", F.coalesce("d", F.lit(0)).cast("long").alias("core")
    )
    cores, info = superstep_loop(
        state0,
        lambda st, _rnd: _hindex_round(sym, st),
        n_rows=n_sym,
        max_rounds=max_rounds,
        stop=F.sum((F.col("core") != F.col("core_prev")).cast("long")),
        checkpoint=checkpoint,
        name="kcore",
    )
    sym.unpersist()
    und.unpersist()
    return cores, info


def k_core(
    edges: DataFrame,
    k: int,
    vertices: DataFrame | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Vertices of the k-core (the maximal subgraph with min degree
    ≥ k): exactly those with ``core_number ≥ k``."""
    cores, info = core_numbers(edges, vertices=vertices, max_rounds=max_rounds)
    if not info.converged:
        raise RuntimeError(
            f"core_numbers did not converge in {max_rounds} rounds"
        )
    return cores.where(F.col("core") >= k).select("v_id", "core")
