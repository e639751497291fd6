"""Connected components — alternating large-star/small-star, exact.

Implements the two-phase alternating algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SOCC'14) — the
O(log² n)-round formulation SURVEY §2.7 prescribes — as DataFrame
supersteps. Component ids are canonical: the minimum vertex id of the
component (FIXTURES.md §4).

One round (large star, then small star) scans its state twice, once per
half of the symmetric edge list, shuffles three times and joins
nothing: each star takes its per-vertex minimum as a window
partitioned by ``u`` over the edge list itself, so the edges stay where
that exchange put them, and the small star's ``distinct`` is the third
(measurements in CHANGES.md).

Also provides :func:`hashmin_components`, the simple O(diameter)
hash-min iteration, which is both a differential oracle for the
star algorithm and the fixed-round variant used by the SQL-unrolled
correctness gate.

The reference's closest operator is BFS connected-subgraph expansion
(``/root/reference/src/Graph/Graph.py:184-210``, SURVEY §2.7 G2);
this engine replaces the per-node BFS with whole-graph supersteps.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from cminer_spark.operators.graph import vertex_set
from cminer_spark.operators.pregel import _hashmin, pregel_components
from cminer_spark.plans.checkpoint import SuperstepCheckpoint, truncate_lineage
from cminer_spark.plans.loopconf import superstep_conf


@dataclass
class CCInfo:
    rounds: int = 0
    converged: bool = False
    n_components: int = 0
    resumed_from: int | None = None
    # each round run by this call, from the round body's start to the
    # end of the cut and the fingerprint read
    round_secs: list = field(default_factory=list)


def _sym(e: DataFrame) -> DataFrame:
    return e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """For each u: connect every strictly-larger neighbor to
    m = min(Γ(u) ∪ {u}). The minimum is a window over the symmetric
    edge list partitioned by u, so the edges stay where that one
    exchange put them; duplicates are left for the small star, whose
    minimum and final ``distinct`` ignore them."""
    m = F.least("u", F.min("v").over(Window.partitionBy("u")))
    return (
        _sym(e)
        .select("u", "v", m.alias("m"))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each u: connect all smaller neighbors (and u itself) to the
    minimum. The large star's output is already oriented (u > v), so
    the minimum is a window over it partitioned by u, and one row
    emits both of its edges."""
    # a window may not sit inside a generator: the minimum gets a
    # select of its own
    e = e.select("u", "v", F.min("v").over(Window.partitionBy("u")).alias("m"))
    moved = F.explode(
        F.array(
            F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
            F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
        )
    )
    return (
        e.select(moved.alias("p"))
        .select("p.u", "p.v")
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _observe_fingerprint(e: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``e(u, v)`` with its convergence fingerprint (row count,
    order-insensitive content hash) riding whatever job materializes
    it; read it back with :func:`_fingerprint_of`."""
    obs = Observation(name)
    return (
        e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ),
        obs,
    )


def _fingerprint_of(obs: Observation) -> tuple[int, int]:
    got = obs.get
    return int(got["n"]), int(got["h"] or 0)


def _cut_labels(labels: DataFrame, info: CCInfo) -> DataFrame:
    """Materialize canonical labels once, so the caller's actions
    (counts, downstream joins) reuse the rows instead of re-running the
    label chain. ``info.n_components`` rides the cut as an
    ``Observation`` counting the vertices that label themselves — exact,
    because each component's minimum vertex is its label."""
    obs = Observation("cc_components")
    labels = truncate_lineage(
        labels.observe(
            obs, F.sum((F.col("v_id") == F.col("component")).cast("long")).alias("n")
        )
    )
    info.n_components = int(obs.get["n"] or 0)
    return labels


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    checkpoint: SuperstepCheckpoint | None = None,
) -> tuple[DataFrame, CCInfo]:
    """Exact connected components of the undirected projection of
    ``edges(src, dst)``. Returns ``(labels(v_id, component), info)``;
    ``component`` = min vertex id in the component."""
    spark = edges.sparkSession
    info = CCInfo()

    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )

    start_round = 0
    if checkpoint is not None:
        resume = checkpoint.latest()
        if resume is not None:
            # resuming AT the fixpoint costs one redundant round whose
            # star-contraction is idempotent — the labeling is exactly
            # the uninterrupted run's (no PageRank-style drift, so no
            # saved-metric convergence check is needed here)
            start_round, e, _meta = resume
            info.resumed_from = start_round
    # The initial cut carries the first fingerprint, whose row count
    # then sizes the loop. It stays under the session conf: AQE
    # coalesces the dedup's output, while an AQE-off cut (one job
    # fewer) keeps the session's partition count into round 1 and
    # measured slower on a 25k-edge graph (cc_s 2.69 s vs 2.57 s,
    # 10 interleaved pairs).
    e, obs = _observe_fingerprint(e, "cc_fp_0")
    e = truncate_lineage(e)
    prev_fp = _fingerprint_of(obs)

    # Loop-scoped config (plans/loopconf.py): shuffle partitions sized
    # to the (shrinking) star state, AQE off — each round's star
    # contraction is ONE scheduler job instead of ~9 query-stage jobs.
    with superstep_conf(spark, prev_fp[0]):
        try:
            for rnd in range(start_round + 1, max_rounds + 1):
                t0 = time.perf_counter()
                # The convergence fingerprint rides the state
                # materialization via df.observe() — one job per round.
                e2, obs = _observe_fingerprint(
                    _small_star(_large_star(e)), f"cc_fp_{rnd}"
                )
                e = (
                    checkpoint.save(rnd, e2, {"round": rnd})
                    if checkpoint is not None
                    else truncate_lineage(e2)
                )
                fp = _fingerprint_of(obs)
                info.rounds = rnd
                info.round_secs.append(round(time.perf_counter() - t0, 3))
                if fp == prev_fp:
                    info.converged = True
                    break
                prev_fp = fp
        finally:
            if checkpoint is not None:
                checkpoint.flush()  # every round reported is committed

        # Converged state is a set of stars (child → root=min).
        # Components: every child maps to its root, roots map to
        # themselves, isolated vertices map to themselves.
        labels = e.select(
            F.col("u").alias("v_id"), F.col("v").alias("component")
        ).union(
            e.select(F.col("v").alias("v_id"), F.col("v").alias("component"))
        )
        labels = labels.groupBy("v_id").agg(
            F.min("component").alias("component")
        )

        all_v = vertex_set(edges, vertices)
        labels = all_v.join(labels, "v_id", "left").select(
            "v_id", F.coalesce("component", "v_id").alias("component")
        )
        labels = _cut_labels(labels, info)
    return labels, info


def incremental_components(
    prev_labels: DataFrame,
    delta_edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
) -> tuple[DataFrame, CCInfo]:
    """ADD-ONLY incremental connected components: given the previous
    labeling ``prev_labels(v_id, component)`` and a batch of NEW edges,
    produce the labeling of the grown graph without touching the old
    edge set.

    The daily-ingest companion to
    :func:`~cminer_spark.operators.edges.extract_edges_delta`: contract
    each delta edge by the previous labels (an old component is already
    connected, so its label stands in for all its members), solve CC on
    the contracted graph — O(|delta|) edges, regardless of graph size —
    and compose. Because the previous label IS the component's minimum
    member id, the composed labels are bit-identical to a full
    recompute (tested), not merely consistent.

    Scale shape: the only joins against full-graph-sized frames are
    (a) delta endpoints looking up their previous label and (b) the
    old labeling re-mapped through the merge mapping — both with a
    BROADCAST delta-derived side, so the |V|-sized frame never
    shuffles. Edge DELETIONS invalidate the contraction (a removed
    edge can split a component) — recompute with
    :func:`connected_components` for those.
    """
    l_ = prev_labels.select("v_id", "component")
    d = delta_edges.select("src", "dst")
    # contract: endpoint -> previous label (new vertices keep their id)
    contracted = (
        d.join(
            l_.select(
                F.col("v_id").alias("src"), F.col("component").alias("_cu")
            ),
            "src",
            "left",
        )
        .join(
            l_.select(
                F.col("v_id").alias("dst"), F.col("component").alias("_cv")
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("_cu", F.col("src")).alias("src"),
            F.coalesce("_cv", F.col("dst")).alias("dst"),
        )
    )
    sub_labels, info = connected_components(
        contracted, vertices=vertices, max_rounds=max_rounds
    )
    sub_labels = F.broadcast(sub_labels)
    # old vertices: re-map through the merge mapping (old label -> new)
    old_final = (
        l_.join(
            sub_labels.select(
                F.col("v_id").alias("component"), F.col("component").alias("_c2")
            ),
            "component",
            "left",
        )
        .select("v_id", F.coalesce("_c2", "component").alias("component"))
    )
    # vertices first seen in the delta (their id is not a previous
    # vertex): labeled directly by the contracted solve
    new_final = sub_labels.join(
        l_.select("v_id"), "v_id", "left_anti"
    ).select("v_id", "component")
    labels = old_final.unionByName(new_final)
    return _cut_labels(labels, info), info


def hashmin_components(
    edges: DataFrame,
    rounds: int,
    vertices: DataFrame | None = None,
    verify_converged: bool = False,
) -> DataFrame:
    """Fixed-``rounds`` hash-min label propagation:
    label'(v) = min(label(v), min_{u~v} label(u)); exact CC when
    ``rounds`` ≥ graph diameter. Deterministic integer logic — the
    differential oracle for the star algorithm and the SQL-unrollable
    gate variant. Runs as the
    :func:`~cminer_spark.operators.pregel.pregel_components` vertex
    program.

    ``verify_converged=True`` allows ONE extra round after ``rounds``
    and raises ``ValueError`` if it still changes a label — callers who
    treat the fixed-round output as exact CC (``dedup_clusters``) get
    a loud failure instead of silently split components when the
    graph diameter exceeds ``rounds``. The run stops at the first
    round that changes nothing, so the returned labels are the
    ``rounds``-round result either way and fixed-round oracles keep
    matching."""
    if not verify_converged:
        return pregel_components(edges, rounds, vertices)
    labels, info = _hashmin(edges, rounds + 1, vertices, stop_when_stable=True)
    if not info.converged:
        raise ValueError(
            f"hashmin_components: {info.history[-1]} labels still changing "
            f"after {rounds} rounds — graph diameter exceeds the "
            "fixed round count; raise `rounds`"
        )
    return labels
