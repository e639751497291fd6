"""Generic vertex-centric superstep API (Pregel-style).

Most iterative graph operators in this repo — PageRank, CC, LPA,
HITS, Katz, k-core, ANF, coloring, MIS, Borůvka — are the same loop:
join state to edges, aggregate messages by destination, update state,
observe a convergence scalar, materialize the state. This module
exposes that loop as a PUBLIC operator so users can run vertex
programs the specialized operators don't ship, without touching the
machinery (reference has nothing comparable — its engine is a
single-process recursive miner, `/root/reference/src/CMiner/CMiner.py`;
the API shape follows the published Pregel/GraphFrames aggregate-
messages model re-expressed as DataFrame plans).

Everything is declarative ``pyspark.sql.functions`` Column
expressions — no per-row Python anywhere, whole-stage codegen end to
end, and the same scale design as the built-in operators:

* ONE hash shuffle for messages (edges ⋈ state, ``shuffle_hash``
  hinted — the state side is a parquet scan with unknown stats and
  Catalyst would otherwise sort-merge and re-sort the adjacency every
  superstep), one for the destination aggregate, one state join;
* rounds run on :func:`~cminer_spark.plans.loop.superstep_loop`:
  loop-scoped conf, lineage cut per round, or a durable
  :class:`~cminer_spark.plans.checkpoint.SuperstepCheckpoint` with
  per-partition lineage + exact resume;
* the ``stop`` aggregate rides the state write via ``Observation`` —
  convergence detection costs zero extra jobs per superstep.

Hub-vertex salting is NOT applied here (the generic layer can't know
which aggregate is salt-decomposable); for power-law in-degree use
the specialized operators or pre-salt the edge frame.

Vocabulary inside the hooks:

* ``messages`` exprs see the edge columns as-is (``src``, ``dst``,
  any attrs) plus the SOURCE vertex state as ``src_<col>``;
* ``aggregates`` exprs see the message aliases, grouped by ``dst``;
* ``update`` exprs see the OLD state columns by name plus the
  aggregate aliases (NULL where no message arrived — coalesce);
* ``stop`` is an aggregate over the updated frame and may compare
  new vs old via ``prev_<col>``; the loop stops when it evaluates
  to 0/NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import undirected_adjacency, vertex_set
from cminer_spark.plans.checkpoint import SuperstepCheckpoint
from cminer_spark.plans.loop import LoopInfo, superstep_loop

__all__ = ["pregel", "pregel_components"]


def pregel(
    edges: DataFrame,
    initial_state: DataFrame,
    messages: dict[str, Column],
    aggregates: dict[str, Column],
    update: dict[str, Column],
    max_supersteps: int = 20,
    stop: Column | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    name: str = "pregel",
) -> tuple[DataFrame, LoopInfo]:
    """Run a vertex program; returns ``(state, info)``.

    ``edges(src, dst, ...)`` — messages flow src → dst exactly as
    given (symmetrize first for undirected semantics).
    ``initial_state(v_id, <state cols>)`` — every vertex that should
    ever hold state must appear (vertices absent from ``edges`` never
    receive messages but still update).
    ``update`` must provide an expression for EVERY state column.
    """
    state_cols = [c for c in initial_state.columns if c != "v_id"]
    if "v_id" not in initial_state.columns:
        raise ValueError("initial_state needs a v_id column")
    if not state_cols:
        raise ValueError("initial_state needs at least one state column")
    if set(update) != set(state_cols):
        raise ValueError(
            f"update must cover exactly the state columns {state_cols}, "
            f"got {sorted(update)}"
        )
    clash = set(aggregates) & set(state_cols)
    if clash:
        raise ValueError(f"aggregate aliases collide with state: {clash}")

    def superstep(state: DataFrame, _rnd: int) -> DataFrame:
        src_state = state.select(
            F.col("v_id").alias("src"),
            *[F.col(c).alias(f"src_{c}") for c in state_cols],
        )
        msgs = edges.join(src_state.hint("shuffle_hash"), "src").select(
            F.col("dst").alias("v_id"),
            *[e.alias(a) for a, e in messages.items()],
        )
        agg = msgs.groupBy("v_id").agg(
            *[e.alias(a) for a, e in aggregates.items()]
        )
        return state.join(agg.hint("shuffle_hash"), "v_id", "left").select(
            "v_id",
            *[update[c].alias(c) for c in state_cols],
            *[F.col(c).alias(f"prev_{c}") for c in state_cols],
        )

    edges = edges.persist()
    try:
        return superstep_loop(
            initial_state.select("v_id", *state_cols),
            superstep,
            n_rows=edges.count(),
            max_rounds=max_supersteps,
            stop=stop,
            checkpoint=checkpoint,
            name=name,
        )
    finally:
        edges.unpersist()


def _hashmin(
    edges: DataFrame,
    rounds: int,
    vertices: DataFrame | None,
    stop_when_stable: bool,
) -> tuple[DataFrame, LoopInfo]:
    """Hash-min CC as a vertex program; the stop is the changed-label
    count."""
    sym = undirected_adjacency(edges).select(
        F.col("nbr").alias("src"), F.col("v").alias("dst")
    )
    state0 = vertex_set(edges, vertices).select(
        "v_id", F.col("v_id").alias("component")
    )
    return pregel(
        sym,
        state0,
        messages={"m": F.col("src_component")},
        aggregates={"mn": F.min("m")},
        update={
            "component": F.least(
                F.col("component"), F.coalesce(F.col("mn"), F.col("component"))
            )
        },
        max_supersteps=rounds,
        stop=(
            F.sum(
                (F.col("component") != F.col("prev_component")).cast("long")
            )
            if stop_when_stable
            else None
        ),
        name="pregel_cc",
    )


def pregel_components(
    edges: DataFrame,
    rounds: int,
    vertices: DataFrame | None = None,
    stop_when_stable: bool = False,
) -> DataFrame:
    """Hash-min connected components expressed AS a vertex program —
    the implementation behind
    :func:`~cminer_spark.operators.components.hashmin_components`
    (bit-identical labels at every round; parity-tested + gate-shared
    oracle)."""
    return _hashmin(edges, rounds, vertices, stop_when_stable)[0]
