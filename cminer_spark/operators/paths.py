"""Multi-source shortest paths — frontier-based distributed Bellman-Ford.

Unweighted it is multi-source BFS (hop distances, ``bigint``); with a
weight column it is the classic label-correcting relaxation
(``double`` distances, non-negative weights assumed for the
convergence bound to be the longest shortest path).

:func:`shortest_paths`, :func:`landmark_distances` and
:func:`~cminer_spark.operators.graph.k_hop_neighborhood` are one
relaxation, :func:`_relax`, run on
:func:`~cminer_spark.plans.loop.superstep_loop` (resume, loop conf,
``Observation`` stop, ``localCheckpoint`` state cut):

* the adjacency collapses parallel edges to their min weight once,
  is hash-partitioned on the relax key at the loop's own partition
  count and persisted, so every round shuffles only the FRONTIER
  (vertices whose distance improved last round), never the graph —
  frontier relaxation provably yields the same state as whole-graph
  relaxation for monotone min-plus, so the k-round prefix is still
  "min over ≤k-edge paths" (which is what the unrolled SQL gate
  mirrors);
* the state is the reached ``(*keys, dist, _imp)`` (sparse: on a
  100 TB graph with a small seed set the early rounds touch a tiny
  fraction of |V|); ``_imp`` marks the frontier, so a durable run
  resumes with the exact frontier;
* the improved count ``sum(_imp)`` is the driver's stop — one Spark
  job per round.

The reference has no distance operator; its BFS neighborhood
(``/root/reference/src/Graph/Graph.py:184-210``) is the reachability
special case (see :func:`cminer_spark.operators.graph.
k_hop_neighborhood`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from cminer_spark.plans.checkpoint import SuperstepCheckpoint, truncate_lineage
from cminer_spark.plans.loop import LoopInfo, superstep_loop
from cminer_spark.plans.loopconf import iteration_partitions, superstep_conf


def _relax(
    edges: DataFrame,
    w: Column,
    seeds: DataFrame,
    keys: list[str],
    *,
    directed: bool,
    max_rounds: int,
    checkpoint: SuperstepCheckpoint | None = None,
    name: str,
) -> tuple[DataFrame, LoopInfo]:
    """Min-plus frontier relaxation over ``edges(src, dst)`` weighted
    by ``w`` (both ways unless ``directed``) from ``seeds``, a frame of
    ``keys`` whose last key is the vertex ``v_id`` (the others tag
    independent copies of the search). Returns the reached
    ``(*keys, dist)`` and the driver's :class:`LoopInfo`, whose
    ``history`` is the improved count per round. ``dist`` has the
    type of ``w``."""
    spark = edges.sparkSession
    *tags, vk = keys
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"), w.alias("w"))
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    # parallel edges: only the cheapest matters
    adj = e.groupBy("u", "v").agg(F.min("w").alias("w"))
    # AQE off for the set-up: the count is one job, and the cached
    # adjacency's plan is built without AQE, so round 1 fills the
    # cache inside its own single job
    with superstep_conf(spark, None):
        n_adj = adj.count()
        adj = adj.repartition(iteration_partitions(spark, n_adj), "u").persist()

    zero = F.lit(0).cast(e.schema["w"].dataType)
    state0 = seeds.select(*keys).distinct().select(
        *keys, zero.alias("dist"), F.lit(True).alias("_imp")
    )

    def step(state: DataFrame, _rnd: int) -> DataFrame:
        frontier = state.where("_imp").select(
            *tags, F.col(vk).alias("u"), F.col("dist").alias("du")
        )
        cand = (
            adj.join(frontier.hint("shuffle_hash"), "u")
            .groupBy(*tags, F.col("v").alias(vk))
            .agg(F.min(F.col("du") + F.col("w")).alias("nd"))
        )
        return (
            state.drop("_imp")
            .join(cand.hint("shuffle_hash"), keys, "full_outer")
            .select(
                *keys,
                F.least(
                    F.coalesce("dist", "nd"), F.coalesce("nd", "dist")
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.col("nd").isNotNull() & (F.col("nd") < F.col("dist")))
                ).alias("_imp"),
            )
        )

    state, info = superstep_loop(
        state0,
        step,
        n_rows=n_adj,
        max_rounds=max_rounds,
        stop=F.sum(F.col("_imp").cast("long")),
        checkpoint=checkpoint,
        name=name,
    )
    adj.unpersist()
    return state.select(*keys, "dist"), info


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str | None = None,
    directed: bool = True,
    max_rounds: int = 50,
    checkpoint: SuperstepCheckpoint | None = None,
) -> tuple[DataFrame, LoopInfo]:
    """Distances from the nearest source. Returns
    ``(dists(v_id, dist), info)`` — reached vertices only; ``dist``
    is ``bigint`` hops when ``weight_col`` is None, else ``double``.

    ``sources`` is a ``(v_id)`` frame. With ``max_rounds=k`` and no
    convergence, the result is exact over paths of ≤k edges (a valid
    lower-bound-complete prefix the unrolled SQL gate mirrors;
    converged early stops are idempotent under extra rounds).
    """
    w = (
        F.lit(1).cast("long")
        if weight_col is None
        else F.col(weight_col).cast("double")
    )
    return _relax(
        edges,
        w,
        sources,
        ["v_id"],
        directed=directed,
        max_rounds=max_rounds,
        checkpoint=checkpoint,
        name="sssp",
    )


def landmark_distances(
    edges: DataFrame,
    landmarks: DataFrame,
    directed: bool = False,
    max_rounds: int = 50,
) -> tuple[DataFrame, LoopInfo]:
    """Hop distances from EACH landmark: ``(lm, v_id, dist)`` for every
    reached (landmark, vertex) pair — the tagged multi-source BFS
    underneath landmark centrality estimates.

    The relaxation of :func:`shortest_paths` (unit weights) with the
    state keyed on the composite ``(lm, v_id)``. State size is
    |landmarks| × |reached| — the landmark set is meant to be small
    (tens to hundreds), which is exactly the landmark-centrality
    trade-off: full closeness is |V| BFS runs, landmarks make it
    |L| tagged copies of one BFS.

    With ``max_rounds=k`` and no convergence the result is exact over
    ≤k-edge paths (the unrolled SQL gate mirrors that prefix).
    """
    return _relax(
        edges,
        F.lit(1).cast("long"),
        landmarks.select(F.col("v_id").alias("lm"), "v_id"),
        ["lm", "v_id"],
        directed=directed,
        max_rounds=max_rounds,
        name="landmark_bfs",
    )


def diameter_estimate(
    edges: DataFrame,
    directed: bool = False,
    max_rounds: int = 50,
) -> tuple[DataFrame, LoopInfo]:
    """Double-sweep diameter lower bound (the standard 2-BFS
    heuristic, exact on trees): BFS from the minimum vertex id, take
    the farthest vertex (max dist, ties → min id), BFS again from it;
    the second eccentricity is the bound.

    Returns ``(df(start_v, peripheral_v, diameter_lb), info)`` — one
    row; ``info`` is the second sweep's :class:`LoopInfo`. With
    ``max_rounds=k`` and no convergence the bound is over ≤k-hop
    distances (truncation the SQL gate mirrors). Cost: exactly two
    multi-source BFS runs — nothing new to scale beyond
    :func:`shortest_paths`.
    """
    spark = edges.sparkSession
    verts = edges.select(F.col("src").alias("v_id")).union(
        edges.select(F.col("dst").alias("v_id"))
    )
    row = verts.agg(F.min("v_id").alias("v0")).collect()[0]
    if row.v0 is None:
        empty = spark.createDataFrame(
            [], "start_v long, peripheral_v long, diameter_lb long"
        )
        return empty, LoopInfo(converged=True)
    v0 = int(row.v0)
    d1, _ = shortest_paths(
        edges,
        spark.createDataFrame([(v0,)], "v_id long"),
        directed=directed,
        max_rounds=max_rounds,
    )
    far = d1.orderBy(F.desc("dist"), F.asc("v_id")).limit(1).collect()[0]
    d2, info = shortest_paths(
        edges,
        spark.createDataFrame([(int(far.v_id),)], "v_id long"),
        directed=directed,
        max_rounds=max_rounds,
    )
    lb = int(d2.agg(F.max("dist")).collect()[0][0] or 0)
    out = spark.createDataFrame(
        [(v0, int(far.v_id), lb)],
        "start_v long, peripheral_v long, diameter_lb long",
    )
    return out, info


def landmark_betweenness(
    edges: DataFrame,
    landmarks: DataFrame,
    directed: bool = False,
    max_rounds: int = 50,
) -> tuple[DataFrame, LoopInfo]:
    """Landmark-approximated betweenness centrality (Brandes with a
    restricted source set): ``(v_id, betweenness)`` where
    ``betweenness(v) = Σ_{lm} δ_lm(v)`` and ``δ`` is Brandes'
    dependency of landmark ``lm`` on ``v``. With landmarks = ALL
    vertices this is exact betweenness (un-normalized, each direction
    counted once on undirected graphs); a small landmark set is the
    standard |L|/|V|-cost approximation.

    Two phases, both supersteps over the hash-partitioned adjacency:

    1. **Forward** level-synchronous BFS with path counting — the
       frontier carries ``σ`` (number of shortest paths from the
       landmark); a vertex discovered at level r sums σ over ALL its
       level-(r-1) predecessors in one aggregation, which is exactly
       Brandes' σ recurrence because every shortest-path predecessor
       sits in the previous frontier.
    2. **Backward** dependency sweep, one superstep per level from
       the deepest up: δ(u) = Σ_{v ∈ succ(u)} σ(u)/σ(v)·(1 + δ(v)).
       All successors of a level-(L-1) vertex live at level L, so
       each level's δ is finalized in a single join against the
       shortest-path DAG (materialized once, |L|·|E| worst case —
       the landmark trade-off, same as :func:`landmark_distances`).

    Unweighted hop distances; ``max_rounds`` truncates the BFS (the
    result is then betweenness restricted to ≤max_rounds-hop shortest
    paths — the unrolled SQL gate mirrors the same truncation).
    ``info.history`` holds the new (landmark, vertex) pairs per
    forward level.
    """
    spark = edges.sparkSession
    info = LoopInfo()

    e = edges.where(F.col("src") != F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    adj = e.distinct()
    # the set-up of _relax: counted with AQE off, cached at the loop's
    # partition count, so no level re-shuffles the adjacency
    with superstep_conf(spark, None):
        n_adj = adj.count()
        adj = adj.repartition(iteration_partitions(spark, n_adj), "u").persist()
    with superstep_conf(spark, n_adj):
        bet = _brandes(adj, landmarks, max_rounds, info)
    adj.unpersist()
    return bet, info


def _brandes(
    adj: DataFrame, landmarks: DataFrame, max_rounds: int, info: LoopInfo
) -> DataFrame:
    """The two phases of :func:`landmark_betweenness` over the
    persisted adjacency ``(u, v)``; appends to ``info``."""
    visited = (
        landmarks.select("v_id")
        .distinct()
        .select(
            F.col("v_id").alias("lm"),
            "v_id",
            F.lit(0).cast("long").alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    visited = truncate_lineage(visited)
    frontier = visited
    maxdist = 0
    for rnd in range(1, max_rounds + 1):
        cand = (
            adj.join(
                frontier.select(
                    "lm", F.col("v_id").alias("u"), "sigma"
                ).hint("shuffle_hash"),
                "u",
            )
            .groupBy("lm", F.col("v").alias("v_id"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        new = cand.join(
            visited.select("lm", "v_id").hint("shuffle_hash"),
            ["lm", "v_id"],
            "left_anti",
        ).select("lm", "v_id", F.lit(rnd).cast("long").alias("dist"), "sigma")
        obs = Observation(f"betw_fwd_{rnd}")
        new = truncate_lineage(
            new.observe(obs, F.count(F.lit(1)).alias("n"))
        )
        n_new = int(obs.get["n"] or 0)
        info.rounds = rnd
        info.history.append(n_new)
        if n_new == 0:
            info.converged = True
            break
        visited = truncate_lineage(visited.union(new))
        frontier = new
        maxdist = rnd

    s_df = visited.persist()
    u_side = s_df.select(
        "lm",
        F.col("v_id").alias("u"),
        F.col("dist").alias("du"),
        F.col("sigma").alias("sig_u"),
    )
    v_side = s_df.select(
        "lm",
        F.col("v_id").alias("v"),
        F.col("dist").alias("dv"),
        F.col("sigma").alias("sig_v"),
    )
    dag = (
        adj.join(u_side.hint("shuffle_hash"), "u")
        .join(v_side.hint("shuffle_hash"), ["lm", "v"])
        .where(F.col("dv") == F.col("du") + 1)
        .select("lm", "u", "v", "sig_u", "sig_v", "dv")
        .persist()
    )
    dag.count()

    delta = s_df.where(F.col("dist") == maxdist).select(
        "lm", "v_id", F.lit(0.0).alias("delta")
    )
    delta = truncate_lineage(delta)
    acc = [delta]
    for lvl in range(maxdist, 0, -1):
        contrib = (
            dag.where(F.col("dv") == lvl)
            .join(
                delta.select("lm", F.col("v_id").alias("v"), "delta").hint(
                    "shuffle_hash"
                ),
                ["lm", "v"],
            )
            .groupBy("lm", F.col("u").alias("v_id"))
            .agg(
                F.sum(
                    F.col("sig_u").cast("double")
                    / F.col("sig_v")
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("c")
            )
        )
        base = s_df.where(F.col("dist") == lvl - 1).select("lm", "v_id")
        delta = truncate_lineage(
            base.join(contrib.hint("shuffle_hash"), ["lm", "v_id"], "left").select(
                "lm", "v_id", F.coalesce("c", F.lit(0.0)).alias("delta")
            )
        )
        acc.append(delta)

    from functools import reduce

    all_delta = reduce(lambda a, b: a.unionByName(b), acc)
    bet = (
        all_delta.where(F.col("v_id") != F.col("lm"))
        .groupBy("v_id")
        .agg(F.sum("delta").alias("betweenness"))
    )
    bet = truncate_lineage(bet)
    dag.unpersist()
    s_df.unpersist()
    return bet


def harmonic_closeness(
    edges: DataFrame,
    landmarks: DataFrame,
    directed: bool = False,
    max_rounds: int = 50,
) -> tuple[DataFrame, LoopInfo]:
    """Landmark harmonic centrality: for each vertex,
    ``closeness = Σ_{lm reached, lm≠v} 1/dist(lm, v)`` and
    ``n_reached`` the number of contributing landmarks.

    With the landmark set = ALL vertices this is exact harmonic
    centrality (Boldi–Vigna); with a small deterministic landmark set
    it is the standard scale approximation — |L| tagged BFS copies
    instead of |V| runs. Harmonic (not classic 1/Σd) so disconnected
    vertices are well-defined without special-casing.

    Returns ``(df(v_id, n_reached, closeness), info)`` over reached
    vertices only; ``info`` is :func:`landmark_distances`'.
    """
    dists, info = landmark_distances(
        edges, landmarks, directed=directed, max_rounds=max_rounds
    )
    out = dists.groupBy("v_id").agg(
        F.sum((F.col("dist") > 0).cast("long")).alias("n_reached"),
        F.coalesce(
            F.sum(F.when(F.col("dist") > 0, F.lit(1.0) / F.col("dist"))),
            F.lit(0.0),
        ).alias("closeness"),
    )
    return out, info
