"""Link prediction scores over the undirected simple projection —
the classic neighborhood heuristics for "which edges are missing":

* ``common_neighbors`` — |Γ(a) ∩ Γ(b)|;
* ``adamic_adar`` — Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg z);
* ``resource_allocation`` — Σ_{z} 1/deg z;
* ``pref_attachment`` — deg(a)·deg(b).

The reference engine has no link-prediction surface; this extends the
same wedge machinery as
:func:`cminer_spark.operators.graph.jaccard_similarity` (A8) to the
standard Liben-Nowell/Kleinberg score family, since candidate
generation is identical: a candidate pair is two vertices sharing a
neighbor (a wedge), and every score above is an aggregate over the
shared-neighbor set.

Scale design (the 100 TB question is the wedge blow-up):

* ONE wedge enumeration produces all three shared-neighbor scores —
  the per-pivot contributions (1, 1/ln d, 1/d) ride the same
  ``groupBy(a, b)`` as three aggregate columns, so adding scores
  costs no extra shuffle;
* a pivot of degree d yields d(d-1)/2 wedge rows, so one super-hub
  (a tool vertex with 10⁷ callers) is quadratic —
  ``max_pivot_degree`` excludes super-hub pivots exactly like the
  Jaccard cap (documented under-count through hubs; hub
  co-membership carries ~no link signal, the stop-word analog);
* ``pref_attachment`` needs no wedge at all — it joins the two
  degree columns onto the already-aggregated candidate pairs
  (broadcast-size per-vertex degree table relative to the pair set);
* existing edges leave via one anti-join against the canonical
  (lo, hi) edge set — candidates only, as a ranking surface wants.

Gate: ``link_pred_scores`` (DuckDB oracle, same wedge SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import undirected_adjacency

__all__ = ["link_prediction_scores"]


def link_prediction_scores(
    edges: DataFrame,
    min_shared: int = 1,
    max_pivot_degree: int | None = None,
    exclude_existing: bool = True,
) -> DataFrame:
    """Score non-adjacent vertex pairs sharing ≥ ``min_shared``
    neighbors.

    Returns ``(a, b, common_neighbors, adamic_adar,
    resource_allocation, pref_attachment)`` with ``a < b``.

    ``max_pivot_degree`` bounds the wedge join: pivots above the cap
    are excluded from candidate generation AND from the
    shared-neighbor sums (their pairs can still appear through other
    pivots) — the documented sub-quadratic scale path.
    ``exclude_existing=False`` also scores pairs that are already
    edges (useful for calibrating the heuristics against known
    links).

    A wedge pivot always has degree ≥ 2, so ``1/ln(deg)`` is finite.
    """
    sym = undirected_adjacency(edges)
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))

    piv = sym.select(F.col("nbr").alias("pivot"), "v").join(
        deg.select(F.col("v").alias("pivot"), F.col("deg").alias("pdeg")),
        "pivot",
    )
    if max_pivot_degree is not None:
        piv = piv.where(F.col("pdeg") <= max_pivot_degree)

    e1 = piv.select("pivot", "pdeg", F.col("v").alias("a"))
    e2 = piv.select("pivot", F.col("v").alias("b"))
    pairs = (
        e1.join(e2, "pivot")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(F.lit(1.0) / F.log(F.col("pdeg").cast("double"))).alias(
                "adamic_adar"
            ),
            F.sum(F.lit(1.0) / F.col("pdeg").cast("double")).alias(
                "resource_allocation"
            ),
        )
        .where(F.col("common_neighbors") >= min_shared)
    )
    if exclude_existing:
        existing = sym.where(F.col("v") < F.col("nbr")).select(
            F.col("v").alias("a"), F.col("nbr").alias("b")
        )
        pairs = pairs.join(existing, ["a", "b"], "left_anti")
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            "adamic_adar",
            "resource_allocation",
            (F.col("deg_a") * F.col("deg_b")).alias("pref_attachment"),
        )
    )
