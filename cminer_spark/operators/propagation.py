"""Feature / embedding propagation over the link graph.

The reference engine has no feature-smoothing surface; this extends
the superstep family (SURVEY §2.7) with the standard GNN-preprocessing
primitive: ``k`` rounds of damped neighbor averaging

    x_{i+1}(v) = alpha * x_i(v) + (1 - alpha) * mean_{u in N(v)} x_i(u)

over the undirected simple projection of ``edges(src, dst)`` —
SGC/"feature propagation" style smoothing (Wu et al. 2019, ICML), the
cheap alternative to training a GNN when building training-data
features from a 10^12-turn link graph (e.g. smoothing per-turn
embedding columns along the reply graph before near-dup clustering or
quality scoring).

Scale design — the state is kept EXPLODED as ``(v_id, pos, val)``
rather than ``array<double>`` for the whole loop:

* a round is ONE shuffle-hash join of the state onto the persisted
  symmetric adjacency plus ONE combinable ``groupBy(v, pos).avg`` —
  per-(vertex, position) keys are ``dim``× finer than per-vertex keys,
  so hub skew is divided by the feature dimension and every partial
  aggregate map-side combines; no ``collect_list`` ever materializes a
  hub's O(degree) neighbor arrays, and no per-row Python runs;
* vertices with no neighbors keep ``mean = x_i(v)`` (the damped update
  is then the identity), so isolated vertices are stable fixpoints;
* the array form is re-assembled ONCE at the end (sort_array over
  (pos, val) structs) and only when ``as_array=True``.

The ``dim``× row blowup is the deliberate trade: at dim 64 the
exploded state is 64× rows of 3 scalar columns — still strictly
columnar, combinable, and skew-free, where the array-state alternative
(grouped pandas mean) concentrates each hub's whole neighborhood in
one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import undirected_adjacency
from cminer_spark.plans.checkpoint import truncate_lineage

__all__ = ["propagate_features"]


def _prop_round(sym: DataFrame, st: DataFrame, alpha: float) -> DataFrame:
    """One damped-averaging round over the exploded state — the raw
    round plan (shuffle-hash join + combinable avg), exposed for the
    plan-shape test the same way ``lpa._lpa_round`` is."""
    nbr_mean = (
        sym.join(
            st.select(
                F.col("v_id").alias("nbr"), "pos", "val"
            ).hint("shuffle_hash"),
            "nbr",
        )
        .groupBy(F.col("v").alias("v_id"), "pos")
        .agg(F.avg("val").alias("nm"))
    )
    return st.join(
        nbr_mean.hint("shuffle_hash"), ["v_id", "pos"], "left"
    ).select(
        "v_id",
        "pos",
        (
            F.lit(alpha) * F.col("val")
            + F.lit(1.0 - alpha) * F.coalesce(F.col("nm"), F.col("val"))
        ).alias("val"),
    )


def propagate_features(
    edges: DataFrame,
    features: DataFrame,
    rounds: int = 2,
    alpha: float = 0.5,
    as_array: bool = False,
    feature_col: str = "emb",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Propagate vertex features along the undirected simple
    projection of ``edges(src, dst)``.

    ``features`` is ``(v_id, <feature_col>: array<numeric>)``; every
    vertex of the graph must have a feature row (missing vertices
    would silently contribute nothing — callers join a default first).

    Returns ``(v_id, pos, val)`` (``pos`` 0-based) or, with
    ``as_array=True``, ``(v_id, emb: array<double>)``.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")

    # Materialize the symmetric adjacency ONCE (localCheckpoint, eager)
    # so every round reuses it. A persist() here would never populate:
    # nothing actions this function's lazy return before the caller
    # does, so an unpersist-on-exit would drop the cache before first
    # use and every round would recompute the distinct shuffle.
    sym = truncate_lineage(undirected_adjacency(edges))

    st = features.select(
        "v_id", F.posexplode(feature_col).alias("pos", "val")
    ).select("v_id", "pos", F.col("val").cast("double").alias("val"))
    st = truncate_lineage(st)

    # The round chain stays DECLARATIVE (r6 A/B: materializing the
    # final round + probing the feature dimension for a loop-scoped
    # config cost ~2s of extra actions on the sf0.1 events graph and
    # saved less — the 2-round exploded chain is real parallel work,
    # not scheduler fixed cost, so one AQE-planned caller action is
    # the right execution). Lineage is still cut at the checkpoint
    # cadence for long runs.
    for rnd in range(1, rounds + 1):
        st = _prop_round(sym, st, alpha)
        if rnd % checkpoint_every == 0 and rnd != rounds:
            st = truncate_lineage(st)

    if not as_array:
        return st
    return st.groupBy("v_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "val"))),
            lambda s: s["val"],
        ).alias("emb")
    )
