"""Distributed greedy graph coloring — Jones-Plassmann supersteps.

The reference engine has no coloring surface; this extends the
superstep family (SURVEY §2.7) alongside MIS: distance-1 coloring is
the standard scheduling/conflict-partitioning primitive (color
classes are independent sets, so per-color batches can be processed
with no neighbor conflicts — e.g. parallel greedy updates over the
transcript link graph).

Algorithm (Jones & Plassmann 1993) with LARGEST-DEGREE-FIRST
priorities (the JP-LDF variant): per round, an uncolored vertex
COLORS ITSELF iff its priority beats (strict ``<``) every uncolored
neighbor's; its color is the smallest non-negative integer unused by
its already-colored neighbors. The priority is the composite string

    lpad(10^10 - degree, 11, '0') || md5(cast(v_id as string))

— higher degree sorts FIRST, md5 breaks ties — so hub vertices
decide early instead of waiting O(degree) rounds for every random
neighbor priority to clear (the pure-md5 variant left a third of a
skewed sf0.1 graph uncolored after 10 rounds; LDF converges in ~10).
Determinism still needs no RNG state: degree and md5 are both pure
functions of the input. Two adjacent vertices can never win the same
round, and winners exclude all earlier-colored neighbors' colors, so
the partial coloring is proper after every round — fixed-round runs
are safely resumable/gateable, uncolored vertices carry
``color = -1``.

Scale design (ONE adjacency-state join pass per round — the
used-color gather is FOLDED into the winner join instead of paying a
second sym join pair):

* the round joins the persisted symmetric adjacency once against the
  full state on the neighbor side and the uncolored frontier on the
  vertex side, then ONE combinable ``groupBy(v)`` computes BOTH the
  min uncolored-neighbor priority and the colored-neighbor used-color
  set;
* the used ``collect_set`` is bounded by the round index (a
  round-``r`` winner's colored neighbors hold colors ``< r``), so
  per-group state is O(max_rounds), never O(degree);
* static priorities ride IN the state (computed once at setup from
  one degree aggregate), so no per-round recompute;
* the uncolored-count convergence probe rides the state write via
  ``df.observe()`` — one job per round.

Semantics: undirected simple projection of ``edges(src, dst)``
(parallel edges collapse, self-loops ignored — the repo-wide
convention shared with MIS/k-core/LPA).

Gate: ``greedy_color`` (fixed-round variant vs the unrolled DuckDB
oracle recomputing the same degree+md5 priorities and min-excluded
colors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import undirected_adjacency, vertex_set
from cminer_spark.plans.loop import LoopInfo, superstep_loop

__all__ = ["greedy_coloring"]

UNCOLORED = -1

# priority prefix base: degrees are < 10^10 on any graph this engine
# targets (10^12 edges / sparse), so 10^10 - deg is always 10-11
# digits and the zero-padded prefix sorts degree-DESC lexicographically
_PRI_BASE = 10_000_000_000


def _pri(v_col, deg_col):
    """Composite JP-LDF priority string: degree-desc, md5-asc."""
    return F.concat(
        F.lpad(
            (F.lit(_PRI_BASE) - F.coalesce(deg_col, F.lit(0)))
            .cast("string"),
            11,
            "0",
        ),
        F.md5(v_col.cast("string")),
    )


def _jp_round(sym: DataFrame, st: DataFrame, rnd: int) -> DataFrame:
    """One Jones-Plassmann round over ``sym(v, nbr)`` and
    ``st(v_id, color, pri)``: adjacency x full state (neighbor side) x
    uncolored frontier (vertex side), then a single combinable
    aggregate yields both the winner test input (min uncolored-neighbor
    priority) and the used-color set of colored neighbors."""
    nbr_st = st.select(
        F.col("v_id").alias("nbr"),
        F.col("pri").alias("np"),
        F.col("color").alias("nc"),
    )
    unc_v = st.where(F.col("color") == UNCOLORED).select(
        F.col("v_id").alias("v")
    )
    g = (
        sym.join(nbr_st.hint("shuffle_hash"), "nbr")
        .join(unc_v.hint("shuffle_hash"), "v")
        .groupBy(F.col("v").alias("v_id"))
        .agg(
            F.min(F.when(F.col("nc") == UNCOLORED, F.col("np"))).alias("mp"),
            F.collect_set(
                F.when(F.col("nc") != UNCOLORED, F.col("nc"))
            ).alias("used"),
        )
    )
    is_winner = (F.col("color") == UNCOLORED) & (
        F.col("mp").isNull() | (F.col("pri") < F.col("mp"))
    )
    return st.join(g.hint("shuffle_hash"), "v_id", "left").select(
        "v_id",
        F.when(
            is_winner,
            F.array_min(
                F.array_except(
                    F.sequence(
                        F.lit(0).cast("long"), F.lit(rnd - 1).cast("long")
                    ),
                    F.coalesce(F.col("used"), F.array().cast("array<long>")),
                )
            ),
        )
        .otherwise(F.col("color"))
        .alias("color"),
        "pri",
    )


def greedy_coloring(
    edges: DataFrame,
    max_rounds: int = 20,
    vertices: DataFrame | None = None,
    stop_when_done: bool = True,
) -> tuple[DataFrame, LoopInfo]:
    """Jones-Plassmann (largest-degree-first) coloring over the
    undirected simple projection of ``edges(src, dst)``.

    Returns ``(df(v_id, color), info)``: ``color >= 0`` is a proper
    distance-1 coloring of the colored subgraph; ``color == -1`` marks
    vertices the round budget left undecided (none once
    ``info.converged``; ``info.uncolored`` counts them per round).
    ``stop_when_done=False`` runs exactly ``max_rounds`` rounds (the
    fixed-depth gate variant).
    """
    sym = undirected_adjacency(edges).persist()

    deg = sym.groupBy(F.col("v").alias("v_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    st0 = (
        vertex_set(edges, vertices)
        .join(deg.hint("shuffle_hash"), "v_id", "left")
        .select(
            "v_id",
            F.lit(UNCOLORED).cast("long").alias("color"),
            _pri(F.col("v_id"), F.col("deg")).alias("pri"),
        )
    )
    st, info = superstep_loop(
        st0,
        lambda st, rnd: _jp_round(sym, st, rnd),
        n_rows=sym.count(),
        max_rounds=max_rounds,
        stop=(
            F.sum((F.col("color") == UNCOLORED).cast("long"))
            if stop_when_done
            else None
        ),
        name="color",
    )
    sym.unpersist()
    return st.select("v_id", "color"), info
