"""Synchronous label propagation with deterministic tie-breaking.

Each round every vertex adopts the most frequent label among its
(undirected) neighbors; ties break to the smallest label, so runs are
bit-reproducible at any partition count (SURVEY §7.3 — LPA ties MUST
be deterministic). Pure DataFrame: the per-round update is ONE
combinable aggregate — ``groupBy(v).agg(mode(label, true))``
(deterministic mode: most frequent, ties to lowest) — one exchange
per round, no sort, no per-row Python.

SURVEY §2.7 mapping table entry: "Label propagation".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import undirected_adjacency, vertex_set
from cminer_spark.plans.checkpoint import SuperstepCheckpoint
from cminer_spark.plans.loop import LoopInfo, superstep_loop


def _lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round over ``sym(v, nbr)``:
    ``(v_id, label, label_prev)``.

    The per-vertex argmax is ONE combinable aggregate:
    ``mode(label, deterministic=True)`` is exactly "most frequent
    neighbor label, ties to the lowest label", with map-side partial
    aggregation (per-partition label→count maps merge associatively).
    This collapses the previous two-level shape — a
    ``groupBy(v_id, label).count()`` exchange followed by a
    per-vertex argmax window (second exchange + sort) — into a single
    exchange on ``v_id`` and no sort. Measured on the sf0.1 events
    graph (4 rounds, best of 3): window 8.39s, min(struct) 7.61s
    (SortAggregate fallback — struct buffers aren't hash-aggregable),
    mode 7.39s. Plan-guarded by
    tests/test_plans.py::test_lpa_round_argmax_is_combinable_no_window.
    """
    winner = (
        sym.join(
            labels.select(F.col("v_id").alias("nbr"), "label").hint(
                "shuffle_hash"
            ),
            "nbr",
        )
        .groupBy(F.col("v").alias("v_id"))
        .agg(F.mode("label", True).alias("new_label"))
    )
    return labels.join(winner.hint("shuffle_hash"), "v_id", "left").select(
        "v_id",
        F.coalesce("new_label", "label").alias("label"),
        F.col("label").alias("label_prev"),
    )


def label_propagation(
    edges: DataFrame,
    max_rounds: int = 10,
    vertices: DataFrame | None = None,
    initial_labels: DataFrame | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    stop_when_stable: bool = True,
) -> tuple[DataFrame, LoopInfo]:
    """Run synchronous LPA on the undirected projection of
    ``edges(src, dst)``.

    ``initial_labels(v_id, label)`` defaults to ``label = v_id``.
    Returns ``(labels(v_id, label), info)``; ``stop_when_stable``
    stops at the first round that changes no label (the changed count
    is ``info.history``).
    """
    sym = undirected_adjacency(edges).persist()

    all_v = vertex_set(edges, vertices)

    if initial_labels is not None:
        labels = all_v.join(initial_labels, "v_id", "left").select(
            "v_id", F.coalesce("label", F.col("v_id")).alias("label")
        )
    else:
        labels = all_v.select("v_id", F.col("v_id").alias("label"))

    labels, info = superstep_loop(
        labels,
        lambda st, _rnd: _lpa_round(sym, st),
        n_rows=sym.count(),
        max_rounds=max_rounds,
        stop=(
            F.sum((F.col("label") != F.col("label_prev")).cast("long"))
            if stop_when_stable
            else None
        ),
        checkpoint=checkpoint,
        name="lpa",
    )
    sym.unpersist()
    return labels, info
