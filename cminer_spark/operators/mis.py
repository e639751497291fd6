"""Maximal independent set — distributed Luby rounds, deterministic.

The reference engine has no MIS surface; this extends the superstep
family (SURVEY §2.7) with the classic symmetry-breaking primitive
(Luby 1986): per round, an undecided vertex enters the set iff its
priority beats every undecided neighbor's, then its neighbors leave.
MIS is the building block for distributed coloring / scheduling /
landmark selection over the transcript link graph.

Determinism without RNG state: the per-vertex priority is
``md5(cast(v_id as string))`` — a fixed, engine-portable hash, so runs
are bit-reproducible at any partition count AND the DuckDB oracle can
recompute the identical priorities (gate ``mis_luby``). md5 behaves
like the uniform random priorities Luby's analysis wants (O(log n)
rounds w.h.p.), unlike raw ids, whose monotone runs serialize chains.
Winners are decided by strict ``<`` on the hex priority alone: an md5
collision between two distinct 64-bit vertex ids would be required
for a tie (practically impossible); a tie merely defers both vertices
to a later round, never mis-decides one.

Scale design:

* one round = two shuffle-hash joins of the |V|-sized state onto the
  persisted symmetric adjacency + one ``groupBy(min)`` — the
  min-priority gather is map-side combinable, so a 10^7-degree hub
  reduces to one row per reducer key;
* the undecided frontier SHRINKS geometrically (each round decides a
  constant expected fraction of active edges), and decided vertices
  drop out of the active-edge join on both sides — late rounds touch
  a vanishing subgraph;
* the undecided-count convergence probe rides the state write via
  ``df.observe()`` — one job per round;
* state is ``(v_id, status)`` through the
  :func:`~cminer_spark.plans.loop.superstep_loop` state rule
  (priorities are recomputed, never stored).

Semantics: undirected simple projection of ``edges(src, dst)`` —
parallel edges collapse, self-loops are ignored (the repo-wide
projection convention, matching k-core/LPA); a vertex whose only
edge is a self-loop therefore counts as isolated and enters the set.

Gate: ``mis_luby`` (fixed-round variant vs the unrolled DuckDB
oracle recomputing the same md5 priorities).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import undirected_adjacency, vertex_set
from cminer_spark.plans.checkpoint import SuperstepCheckpoint
from cminer_spark.plans.loop import LoopInfo, superstep_loop

__all__ = ["maximal_independent_set"]

UNDECIDED = "undecided"
IN_SET = "in"
OUT = "out"


def _pri(col):
    return F.md5(F.col(col).cast("string"))


def _luby_round(sym: DataFrame, st: DataFrame) -> DataFrame:
    """One Luby round over ``sym(v, nbr)`` and ``st(v_id, status)``."""
    und = st.where(F.col("status") == UNDECIDED)
    act = sym.join(
        und.select(F.col("v_id").alias("nbr"), _pri("v_id").alias("pu")).hint(
            "shuffle_hash"
        ),
        "nbr",
    ).join(und.select(F.col("v_id").alias("v")).hint("shuffle_hash"), "v")
    mn = act.groupBy(F.col("v").alias("v_id")).agg(F.min("pu").alias("mp"))
    scored = st.join(mn.hint("shuffle_hash"), "v_id", "left")
    is_winner = (F.col("status") == UNDECIDED) & (
        F.col("mp").isNull() | (_pri("v_id") < F.col("mp"))
    )
    winners = scored.where(is_winner).select("v_id")
    outs = (
        sym.join(
            winners.select(F.col("v_id").alias("nbr")).hint("shuffle_hash"),
            "nbr",
        )
        .select(F.col("v").alias("v_id"))
        .distinct()
    )
    return scored.join(
        outs.select("v_id", F.lit(1).alias("is_out")).hint("shuffle_hash"),
        "v_id",
        "left",
    ).select(
        "v_id",
        F.when(is_winner, F.lit(IN_SET))
        .when(
            (F.col("status") == UNDECIDED) & F.col("is_out").isNotNull(),
            F.lit(OUT),
        )
        .otherwise(F.col("status"))
        .alias("status"),
    )


def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 20,
    vertices: DataFrame | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    stop_when_done: bool = True,
) -> tuple[DataFrame, LoopInfo]:
    """Luby MIS over the undirected simple projection of
    ``edges(src, dst)``.

    Returns ``(df(v_id, status), info)`` with ``status`` one of
    ``'in' | 'out' | 'undecided'`` — after convergence (no vertex
    undecided) the ``'in'`` rows are a maximal independent set.
    ``info.history`` is the undecided count after each round.
    ``stop_when_done=False`` runs exactly ``max_rounds`` rounds (the
    fixed-depth gate variant).
    """
    sym = undirected_adjacency(edges).persist()

    st0 = vertex_set(edges, vertices).select(
        "v_id", F.lit(UNDECIDED).alias("status")
    )

    # statuses are monotone (undecided→in/out, never back), so a resumed
    # run replays the uninterrupted one exactly
    st, info = superstep_loop(
        st0,
        lambda st, _rnd: _luby_round(sym, st),
        n_rows=sym.count(),
        max_rounds=max_rounds,
        stop=(
            F.sum((F.col("status") == UNDECIDED).cast("long"))
            if stop_when_done
            else None
        ),
        checkpoint=checkpoint,
        name="mis",
    )
    sym.unpersist()
    return st, info
