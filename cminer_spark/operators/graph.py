"""Graph-structural layer: degrees, hub detection, CSR adjacency blocks.

Reference parity: per-label in/out degrees are the reference's
``tot_deg/in_deg/out_deg`` and ``t_in_deg/t_out_deg``
(``/root/reference/src/Graph/Graph.py:225-288``, SURVEY §2.4 A6);
label catalogs are ``src/Graph/Graph.py:90-99`` (A7). CSR blocks are
the north-rule materialization for iterative sparse gather-scatter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex ``(v_id, out_deg, in_deg, tot_deg)``.

    One shuffle per direction, partial-aggregated map-side; the union
    is a cheap second agg on the already-small per-vertex table.
    """
    out_d = edges.groupBy(F.col("src").alias("v_id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("v_id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "v_id", "full_outer")
        .select(
            "v_id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
        .withColumn("tot_deg", F.col("out_deg") + F.col("in_deg"))
    )


def degrees_by_type(edges: DataFrame) -> DataFrame:
    """Per-vertex per-edge-label degrees ``(v_id, type, t_out_deg,
    t_in_deg)`` — reference ``t_in_deg``/``t_out_deg``
    (``src/Graph/Graph.py:256-288``)."""
    out_d = edges.groupBy(F.col("src").alias("v_id"), "type").agg(
        F.count(F.lit(1)).alias("t_out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("v_id"), "type").agg(
        F.count(F.lit(1)).alias("t_in_deg")
    )
    return out_d.join(in_d, ["v_id", "type"], "full_outer").select(
        "v_id",
        "type",
        F.coalesce("t_out_deg", F.lit(0)).alias("t_out_deg"),
        F.coalesce("t_in_deg", F.lit(0)).alias("t_in_deg"),
    )


def hub_vertices(edges: DataFrame, quantile: float = 0.99, factor: float = 4.0) -> DataFrame:
    """Detect hot vertices: in-degree > factor × p_quantile(in-degree).

    Returned frame ``(v_id, in_deg)`` is expected to be tiny (hub
    tools / celebrity vertices) and safe to broadcast.

    This is a standalone skew DIAGNOSTIC (relative skew: who stands
    out). ``pagerank``'s auto-salting deliberately probes an ABSOLUTE
    per-reducer bound instead — a graph with several equally-hot
    destinations has no relative hubs (max ≤ factor × p99) but still
    needs salting — so the two probes answer different questions.
    """
    in_d = edges.groupBy(F.col("dst").alias("v_id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    q = in_d.agg(
        F.percentile_approx("in_deg", F.lit(quantile), F.lit(10000)).alias("q")
    ).collect()[0]["q"]
    threshold = max(float(q or 1.0) * factor, 1.0)
    return in_d.where(F.col("in_deg") > F.lit(threshold))


def csr_blocks(edges: DataFrame, n_blocks: int | None = None) -> DataFrame:
    """Materialize salted, range-partitioned CSR adjacency blocks.

    ``(block_id, src, dsts array<long>, weights array<double>,
    out_deg)`` — one row per source vertex, rows range-partitioned by
    ``src`` and sorted within partitions, so a rank join against a
    range-partitioned rank table is co-located. At cluster scale this
    is written once as a bucketed/sorted Iceberg or parquet table and
    reused by every superstep (write with
    ``.write.format("parquet").bucketBy(n, "src")``); the per-block
    manifest for lineage comes from
    :mod:`cminer_spark.plans.checkpoint`.
    """
    spark = edges.sparkSession
    n_blocks = n_blocks or spark.sparkContext.defaultParallelism
    agg = (
        edges.groupBy("src", "dst").agg(F.sum("weight").alias("w"))
        .repartitionByRange(n_blocks, "src")
        .sortWithinPartitions("src", "dst")
    )
    return (
        agg.groupBy("src")
        .agg(
            F.sort_array(F.collect_list(F.struct("dst", "w"))).alias("adj"),
        )
        .select(
            F.spark_partition_id().alias("block_id"),
            "src",
            F.col("adj.dst").alias("dsts"),
            F.col("adj.w").alias("weights"),
            F.size("adj").alias("out_deg"),
        )
    )


def induced_subgraph(
    edges: DataFrame, vertex_set: DataFrame, vertices: DataFrame | None = None
) -> tuple[DataFrame | None, DataFrame]:
    """G1 (reference ``Graph.py:607-623``): keep every edge whose BOTH
    endpoints are in ``vertex_set(v_id)`` — a double semi-join, no
    driver copy."""
    vs = vertex_set.select("v_id")
    e = (
        edges.join(vs.withColumnRenamed("v_id", "src"), "src", "left_semi")
        .join(vs.withColumnRenamed("v_id", "dst"), "dst", "left_semi")
    )
    v = (
        vertices.join(vs, "v_id", "left_semi") if vertices is not None else None
    )
    return v, e


def k_hop_neighborhood(
    edges: DataFrame, seeds: DataFrame, k: int, directed: bool = False
) -> DataFrame:
    """G2 (reference BFS connected subgraph, ``Graph.py:184-210``):
    vertices within k hops of the seed set — unweighted
    :func:`~cminer_spark.operators.paths.shortest_paths` cut at k
    rounds (it stops early once the frontier empties)."""
    from cminer_spark.operators.paths import shortest_paths

    dists, _info = shortest_paths(edges, seeds, directed=directed, max_rounds=k)
    return dists.select("v_id")


def label_catalog(vertices: DataFrame) -> DataFrame:
    """Sorted distinct node labels — reference memoized catalog
    ``src/Graph/Graph.py:90-93`` (A7)."""
    return (
        vertices.select(F.explode("labels").alias("label"))
        .distinct()
        .orderBy("label")
    )


def undirected_adjacency(edges: DataFrame) -> DataFrame:
    """Symmetric distinct neighbor pairs ``(v, nbr)`` of the
    undirected simple projection of ``edges(src, dst)``: parallel
    edges collapse, self-loops drop, and each pair appears once per
    direction. The shared input of the unweighted vertex-state loops
    (LPA, MIS, coloring, k-core, hash-min CC)."""
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    return und.select("a", "b").union(und.select(F.col("b"), F.col("a"))).toDF(
        "v", "nbr"
    )


def vertex_set(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Distinct ``(v_id)`` of ``src ∪ dst ∪ vertices``: every endpoint
    of ``edges(src, dst)`` plus the optional isolated ``vertices``
    (column ``v_id``). The vertex set every loop builds its state
    from, so an empty graph gives an empty state and an isolated
    vertex a row of its own in every operator."""
    v = edges.select(F.col("src").alias("v_id")).union(
        edges.select(F.col("dst").alias("v_id"))
    )
    if vertices is not None:
        v = v.union(vertices.select("v_id"))
    return v.distinct()


def cooccurrence(
    pairs: DataFrame,
    entity_col: str,
    item_col: str,
    min_count: int = 1,
    max_entity_degree: int | None = None,
) -> DataFrame:
    """Bipartite co-occurrence projection: from (entity, item)
    membership pairs, the weighted item–item graph where
    ``n_entities`` = how many entities contain both items.

    The projection behind "users who run tool A also run tool B" /
    co-citation / basket analysis. Returns ``(item_a, item_b,
    n_entities)`` with ``item_a < item_b`` (undirected, each unordered
    pair once), pairs below ``min_count`` dropped.

    Same wedge-enumeration scale shape as :func:`jaccard_similarity`
    with the entity as the pivot: an entity holding d items emits d²
    pair rows, so ``max_entity_degree`` EXCLUDES entities above the
    cap from the projection (a crawler session touching every item
    contributes no similarity signal — stop-entity removal, documented
    under-approximation). Membership is deduplicated first, so
    repeated (entity, item) events count once.
    """
    m = pairs.select(
        F.col(entity_col).alias("ent"), F.col(item_col).alias("item")
    ).distinct()
    if max_entity_degree is not None:
        ok = (
            m.groupBy("ent")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") <= max_entity_degree)
            .select("ent")
        )
        m = m.join(ok, "ent", "left_semi")
    a = m.select("ent", F.col("item").alias("item_a"))
    b = m.select("ent", F.col("item").alias("item_b"))
    return (
        a.join(b, "ent")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .where(F.col("n_entities") >= min_count)
    )


def jaccard_similarity(
    edges: DataFrame,
    min_shared: int = 1,
    max_pivot_degree: int | None = None,
) -> DataFrame:
    """Neighborhood Jaccard over undirected neighbor sets for vertex
    pairs sharing ≥ ``min_shared`` neighbors — reference
    ``src/Graph/Graph.py:149-164`` (A8).

    Computed via wedge enumeration (pairs through a shared neighbor)
    + degree join: |A∩B| from the wedge count over distinct
    neighbor sets, |A∪B| = deg(a)+deg(b)-|A∩B|.

    Scale note — the wedge join materializes deg(p)² pairs per pivot
    p, so one super-hub (a tool vertex with 10⁷ callers) yields 10¹⁴
    rows. ``max_pivot_degree`` bounds this: pivots above the cap are
    EXCLUDED from wedge enumeration, so pairs whose only shared
    neighbors are super-hubs are dropped and shared counts through
    super-hubs are not counted — a documented under-approximation
    (hub co-membership carries little similarity signal; the analog
    of stop-word removal). For estimates that still include hub
    neighborhoods use :func:`jaccard_similarity_minhash`, which is
    linear in |E| regardless of skew. Default ``None`` = exact.
    """
    from cminer_spark.plans.checkpoint import truncate_lineage

    # materialize the symmetric-distinct projection once: it feeds the
    # degree aggregate, the pivot filter AND both wedge sides, and the
    # distinct's exchange is not dedupable across those differently-
    # shaped branches — without the cut the plan re-runs the |E|-sized
    # distinct shuffle per branch
    sym = truncate_lineage(undirected_adjacency(edges))
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    pivots = sym.select(F.col("nbr").alias("shared"), F.col("v"))
    if max_pivot_degree is not None:
        ok = deg.where(F.col("deg") <= max_pivot_degree).select(
            F.col("v").alias("shared")
        )
        pivots = pivots.join(ok, "shared", "left_semi")
    e1 = pivots.select("shared", F.col("v").alias("a"))
    e2 = pivots.select("shared", F.col("v").alias("b"))
    wedges = (
        e1.join(e2, "shared")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared_cnt"))
        .where(F.col("shared_cnt") >= min_shared)
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    return (
        wedges.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            (
                F.col("shared_cnt")
                / (F.col("deg_a") + F.col("deg_b") - F.col("shared_cnt"))
            ).alias("jaccard"),
        )
    )


def jaccard_similarity_minhash(
    edges: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    min_estimate: float = 0.0,
) -> DataFrame:
    """Approximate neighborhood Jaccard via MinHash + LSH banding —
    the documented scale path past :func:`jaccard_similarity`'s wedge
    blow-up (same signature→band→bucket-equi-join shape as
    :func:`cminer_spark.pipeline.dedup.minhash_lsh_candidates`).

    Per vertex: a ``n_hashes``-wide MinHash signature of its neighbor
    set (one groupBy over the symmetric edge list — linear in |E|,
    hub-degree only widens one aggregation group). Candidate pairs
    come from equality of any of ``bands`` signature bands (never an
    all-pairs join), and the returned ``jaccard_est`` is the fraction
    of agreeing signature components — E[est] = true Jaccard.

    Output: (a, b, jaccard_est) with a < b.
    """
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows_per_band = n_hashes // bands
    sym = undirected_adjacency(edges)
    sig = sym.groupBy("v").agg(
        F.array(
            *[
                F.min(F.xxhash64("nbr", F.lit(i))).alias(f"h{i}")
                for i in range(n_hashes)
            ]
        ).alias("sig")
    )
    banded = sig.select(
        "v",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice("sig", b * rows_per_band + 1, rows_per_band),
                            F.lit(b),
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("v", "sig", "bk.band", "bk.bh")
    left = banded.select(
        "band", "bh", F.col("v").alias("a"), F.col("sig").alias("sig_a")
    )
    right = banded.select(
        "band", "bh", F.col("v").alias("b"), F.col("sig").alias("sig_b")
    )
    cands = (
        left.join(right, ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .dropDuplicates(["a", "b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(n_hashes))
    out = cands.select("a", "b", est.alias("jaccard_est"))
    if min_estimate > 0:
        out = out.where(F.col("jaccard_est") >= min_estimate)
    return out
