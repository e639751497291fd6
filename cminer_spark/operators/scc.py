"""Strongly connected components — trim + forward-backward coloring.

The distributed FW-BW coloring scheme (Orzan '04 / Slota et al.,
expressed as DataFrame supersteps):

1. **Trim** the active subgraph to its cyclic core: iteratively drop
   vertices with zero in- or out-degree (they can never sit in a
   nontrivial SCC). This removes the acyclic bulk — on DAG-ish data
   (conversation chains) almost everything — in cheap edge-only
   rounds.
2. **Color** the core by forward min-propagation to fixpoint:
   ``color(v) = min{u : u →* v}`` within the active subgraph. A color
   class is closed under SCC membership.
3. **Mark backward** from each pivot ``p`` (``color(p) = p``) through
   same-color edges: marked vertices satisfy ``v →* p`` while
   ``color(v) = p`` certifies ``p →* v`` — both-ways reachable, so
   the marked set of a pivot is exactly ``SCC(p)``, and because the
   pivot is the class minimum the emitted label is the canonical
   **minimum member id**.
4. Remove the assigned SCCs, repeat from 1 until the core is empty.

Vertices never assigned by 3 are singleton SCCs (label = own id) —
trimmed vertices provably so, which is why trimming needs no
bookkeeping beyond the shrinking edge set.

Scale design: every phase is a groupBy/join superstep over the ACTIVE
edge set only (monotonically shrinking; persisted + lineage-cut per
round); convergence counts ride the state materialization via
``df.observe`` (one job per round); no driver-side state beyond
per-round scalar counters and one accumulated assignment frame per
outer round. The classic caveat holds: worst-case round count is
O(diameter of the cyclic core) — on link graphs the core is shallow
once trimming has eaten the DAG fringe.

The reference has no SCC operator (its graphs are handled as
undirected neighborhoods, ``/root/reference/src/Graph/Graph.py:
184-210``); this extends the engine's component family (SURVEY §2.7)
to the directed case.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cminer_spark.operators.graph import vertex_set
from cminer_spark.plans.checkpoint import truncate_lineage


@dataclass
class SCCInfo:
    outer_rounds: int = 0
    trim_rounds: int = 0
    color_rounds: int = 0
    mark_rounds: int = 0
    n_nontrivial: int = 0
    converged: bool = False


def _endpoints(e: DataFrame) -> DataFrame:
    return e.select(F.col("u").alias("v_id")).union(
        e.select(F.col("v").alias("v_id"))
    ).distinct()


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_outer: int = 25,
    max_inner: int = 200,
) -> tuple[DataFrame, SCCInfo]:
    """Exact SCC labels: ``(v_id, scc)`` with ``scc`` the minimum
    vertex id of the component, over all edge endpoints (plus
    ``vertices(v_id)`` if given — isolated vertices are singletons).

    ``max_inner`` bounds each fixpoint loop (trim / color / mark);
    ``max_outer`` bounds pivot-removal rounds. If any budget is
    exhausted ``info.converged`` is False and the still-active
    vertices fall back to singleton labels — check the flag before
    trusting labels on adversarially deep graphs.
    """
    info = SCCInfo()

    act = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )
    act = truncate_lineage(act)
    assigned: DataFrame | None = None  # (v_id, scc) of nontrivial SCCs
    inner_ok = True

    for _outer in range(1, max_outer + 1):
        # -- 1. trim to the cyclic core (edge-count fixpoint) --------
        n_edges = act.count()
        if n_edges == 0:
            info.converged = True
            break
        info.outer_rounds = _outer
        while n_edges > 0:
            if info.trim_rounds >= max_inner:
                inner_ok = False
                break
            srcs = act.select(F.col("u").alias("k")).distinct()
            dsts = act.select(F.col("v").alias("k")).distinct()
            kept = (
                act.join(dsts.withColumnRenamed("k", "u").hint("shuffle_hash"), "u", "left_semi")
                .join(srcs.withColumnRenamed("k", "v").hint("shuffle_hash"), "v", "left_semi")
            )
            obs = Observation(f"scc_trim_{_outer}_{info.trim_rounds}")
            kept = truncate_lineage(
                kept.observe(obs, F.count(F.lit(1)).alias("n")).select("u", "v")
            )
            n_kept = int(obs.get["n"] or 0)
            info.trim_rounds += 1
            act = kept
            if n_kept == n_edges:
                break
            n_edges = n_kept
        if not inner_ok:
            break
        if n_edges == 0:
            info.converged = True
            break

        # -- 2. forward min-coloring to fixpoint ---------------------
        color = _endpoints(act).select("v_id", F.col("v_id").alias("color"))
        color = truncate_lineage(color)
        colored = False
        while not colored:
            if info.color_rounds >= max_inner:
                inner_ok = False
                break
            nbr = (
                act.join(
                    color.select(F.col("v_id").alias("u"), F.col("color").alias("cu")).hint("shuffle_hash"),
                    "u",
                )
                .groupBy(F.col("v").alias("v_id"))
                .agg(F.min("cu").alias("nbr_min"))
            )
            merged = color.join(nbr.hint("shuffle_hash"), "v_id", "left").select(
                "v_id",
                F.least("color", F.coalesce("nbr_min", "color")).alias("color"),
                (F.coalesce("nbr_min", F.col("color")) < F.col("color")).alias("_chg"),
            )
            obs = Observation(f"scc_color_{_outer}_{info.color_rounds}")
            merged = truncate_lineage(
                merged.observe(
                    obs, F.sum(F.col("_chg").cast("long")).alias("chg")
                ).select("v_id", "color")
            )
            info.color_rounds += 1
            color = merged
            colored = int(obs.get["chg"] or 0) == 0
        if not inner_ok:
            break

        # -- 3. backward marking from pivots through same-color edges
        cu = color.select(F.col("v_id").alias("u"), F.col("color").alias("c_u"))
        cv = color.select(F.col("v_id").alias("v"), F.col("color").alias("c_v"))
        cc_e = (
            act.join(cu.hint("shuffle_hash"), "u")
            .join(cv.hint("shuffle_hash"), "v")
            .where(F.col("c_u") == F.col("c_v"))
            .select("u", "v")
        )
        cc_e = truncate_lineage(cc_e)
        mark = color.where(F.col("v_id") == F.col("color")).select(
            "v_id", "color"
        )
        mark = truncate_lineage(mark)
        marking = True
        while marking:
            if info.mark_rounds >= max_inner:
                inner_ok = False
                break
            new = (
                cc_e.join(
                    mark.select(F.col("v_id").alias("v")).hint("shuffle_hash"),
                    "v",
                    "left_semi",
                )
                .select(F.col("u").alias("v_id"))
                .distinct()
                .join(mark.select("v_id"), "v_id", "left_anti")
                .join(color.hint("shuffle_hash"), "v_id")
            )
            obs = Observation(f"scc_mark_{_outer}_{info.mark_rounds}")
            new = truncate_lineage(
                new.observe(obs, F.count(F.lit(1)).alias("n")).select(
                    "v_id", "color"
                )
            )
            info.mark_rounds += 1
            n_new = int(obs.get["n"] or 0)
            if n_new == 0:
                marking = False
            else:
                mark = truncate_lineage(mark.union(new))
        if not inner_ok:
            break

        # marked sets are whole SCCs labeled by their minimum (pivot)
        done = mark.select("v_id", F.col("color").alias("scc"))
        assigned = done if assigned is None else assigned.union(done)
        assigned = truncate_lineage(assigned)
        gone = done.select("v_id")
        act = truncate_lineage(
            act.join(gone.withColumnRenamed("v_id", "u"), "u", "left_anti")
            .join(gone.withColumnRenamed("v_id", "v"), "v", "left_anti")
        )

    all_v = vertex_set(edges, vertices)
    if assigned is not None:
        labels = all_v.join(assigned, "v_id", "left").select(
            "v_id", F.coalesce("scc", "v_id").alias("scc")
        )
        info.n_nontrivial = (
            assigned.groupBy("scc")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .count()
        )
    else:
        labels = all_v.select("v_id", F.col("v_id").alias("scc"))
    return labels, info
