"""Weisfeiler-Leman (WL) color refinement and graph fingerprints.

1-WL iterated neighborhood hashing — the standard isomorphism-
invariant vertex/graph signature (WL graph kernels, GNN expressive-
power baseline) and the natural whole-graph companion to the miner's
per-pattern canonical codes (``mining.py`` D1, exact only to 8
nodes): two graphs with different WL fingerprints are guaranteed
non-isomorphic, so a fingerprint pass cheaply pre-buckets a
transactional DB before any expensive pattern work (same role the
reference's label catalogs play for matching,
``src/Graph/Graph.py:90-93``, at the whole-graph grain).

Engine-portable determinism (these feed a DuckDB-oracle gate): a
color is ``md5(prev_color || '|' || ','-joined SORTED neighbor
colors)`` — strings and md5 behave identically on Spark and DuckDB,
and the sort normalizes ``collect_list``'s partition-dependent order.

Scale shape: each round is one groupBy over the (undirected) edge
list — ``collect_list`` per vertex is bounded by the max degree, the
same envelope as the miner's packed-adjacency build; rounds are
typically 2-4 (WL stabilizes in <= diameter rounds, and kernel
practice uses fixed small k). The rounds run on
:func:`~cminer_spark.plans.loop.superstep_loop` with a fixed count and
no stop, over the edge list cached at the loop's partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.plans.loop import superstep_loop
from cminer_spark.plans.loopconf import iteration_partitions, superstep_conf

__all__ = ["wl_colors", "wl_fingerprints"]


def _init_colors(vertices: DataFrame) -> DataFrame:
    labels = (
        F.array_join(F.sort_array(F.col("labels")), ",")
        if "labels" in vertices.columns
        else F.lit("")
    )
    return vertices.select(
        "graph_id", "v_id", F.md5(labels).alias("color")
    )


def wl_colors(
    vertices: DataFrame, edges: DataFrame, rounds: int = 3
) -> DataFrame:
    """1-WL refinement over a transactional DB:
    ``vertices(graph_id, v_id[, labels])`` +
    ``edges(graph_id, src, dst)`` → ``(graph_id, v_id, color)`` after
    ``rounds`` refinements (undirected neighborhoods; vertices with no
    edges keep refining on their empty neighborhood)."""
    spark = edges.sparkSession
    sym = (
        edges.select(
            "graph_id", F.col("src").alias("u"), F.col("dst").alias("v")
        )
        .union(
            edges.select(
                "graph_id", F.col("dst").alias("u"), F.col("src").alias("v")
            )
        )
        .distinct()
    )
    # AQE off for the set-up: the count is one job, and the cached
    # edge list's plan is built without AQE, partitioned the way each
    # round joins it
    with superstep_conf(spark, None):
        n_sym = sym.count()
        sym = sym.repartition(
            iteration_partitions(spark, n_sym), "graph_id", "u"
        ).persist()

    def step(colors: DataFrame, _rnd: int) -> DataFrame:
        nb = (
            sym.join(
                colors.select(
                    "graph_id",
                    F.col("v_id").alias("u"),
                    F.col("color").alias("nc"),
                ).hint("shuffle_hash"),
                ["graph_id", "u"],
            )
            .groupBy("graph_id", F.col("v").alias("v_id"))
            .agg(F.array_join(F.sort_array(F.collect_list("nc")), ",").alias("njoin"))
        )
        return colors.join(nb, ["graph_id", "v_id"], "left").select(
            "graph_id",
            "v_id",
            F.md5(
                F.concat_ws("|", F.col("color"), F.coalesce("njoin", F.lit("")))
            ).alias("color"),
        )

    colors, _info = superstep_loop(
        _init_colors(vertices), step, n_rows=n_sym, max_rounds=rounds, name="wl"
    )
    sym.unpersist()
    return colors


def wl_fingerprints(
    vertices: DataFrame, edges: DataFrame, rounds: int = 3
) -> DataFrame:
    """Per-graph WL fingerprint: ``(graph_id, fingerprint)`` =
    md5 of the sorted final color multiset. Different fingerprints ⇒
    non-isomorphic graphs (the converse does not hold — 1-WL)."""
    colors = wl_colors(vertices, edges, rounds)
    return colors.groupBy("graph_id").agg(
        F.md5(
            F.array_join(F.sort_array(F.collect_list("color")), ",")
        ).alias("fingerprint")
    )
