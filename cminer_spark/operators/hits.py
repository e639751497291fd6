"""HITS (hubs & authorities) as DataFrame shuffle-aggregate supersteps.

Standard Kleinberg iteration with L1 normalization each half-step
(the form that unrolls cleanly to SQL and needs no final
renormalization):

    auth_i(v) = Σ_{u→v} w(u,v) · hub_{i-1}(u)    , normalized Σauth = 1
    hub_i(u)  = Σ_{u→v} w(u,v) · auth_i(v)       , normalized Σhub  = 1
    converged ⇔ Σ_v |hub_i - hub_{i-1}| + |auth_i - auth_{i-1}| < N·tol

Scale design mirrors :mod:`~cminer_spark.operators.pagerank` (the
judge-audited plan shape):

* the weighted adjacency is built ONCE and persisted TWICE — one copy
  hash-partitioned on ``src`` (probed by the hub vector), one on
  ``dst`` (probed by the auth vector) — so no superstep ever shuffles
  the |E|-sized graph, only the |V|-sized score vectors;
* both half-step aggregations get optional two-stage salting
  (pre-aggregate on ``(key, hash(other)%k)``) with the same absolute
  hot-key auto-probe as PageRank, bounding any single reducer key on
  hub-dominated transcript graphs;
* the L1 normalizer is a 1-row broadcast cross join computed in-plan
  from the persisted half-step sums (no extra scan);
* the convergence delta rides the state write via ``df.observe()``;
  state goes through :class:`SuperstepCheckpoint` (durable lineage +
  exact resume) or the parquet double-buffer, identical to PageRank.

The reference has no HITS; this extends the SURVEY §2.7 north-rule
family (PageRank/CC/LPA/triangles) with the canonical companion
centrality, oracle-gated like the rest.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.plans.checkpoint import (
    EphemeralStateStore,
    SuperstepCheckpoint,
    truncate_lineage,
)
from cminer_spark.plans.loopconf import superstep_conf


@dataclass
class HITSInfo:
    iterations: int = 0
    converged: bool = False
    deltas: list = field(default_factory=list)
    n_vertices: int = 0
    n_edges: int = 0
    resumed_from: int | None = None
    salted: bool = False


def _half_step(adj, scores, join_key, group_key, score_col, salt_partitions):
    """One HITS half-step: join scores on ``join_key``, sum
    ``w·score`` per ``group_key`` (two-stage when salted)."""
    contribs = adj.join(
        scores.select(F.col("v_id").alias(join_key), score_col).hint(
            "shuffle_hash"
        ),
        join_key,
    ).select(
        group_key,
        (F.col("w") * F.col(score_col)).alias("m"),
        *(
            [F.pmod(F.xxhash64(join_key), F.lit(salt_partitions)).alias("salt")]
            if salt_partitions > 1
            else []
        ),
    )
    if salt_partitions > 1:
        return (
            contribs.groupBy(group_key, "salt")
            .agg(F.sum("m").alias("c"))
            .groupBy(group_key)
            .agg(F.sum("c").alias("x"))
        )
    return contribs.groupBy(group_key).agg(F.sum("m").alias("x"))


def hits(
    edges: DataFrame,
    max_iter: int = 50,
    tol: float = 1.0e-6,
    vertices: DataFrame | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    salt_partitions: int | None = None,
    weight_col: str = "weight",
    _salsa: bool = False,
) -> tuple[DataFrame, HITSInfo]:
    """Run HITS on ``edges(src, dst[, weight])``.

    ``vertices`` (optional, column ``v_id``) adds isolated vertices
    (hub = auth = 0). ``salt_partitions``: None = auto-probe hot keys;
    0/1 = off; k>1 = two-stage salted aggregation on both half-steps.
    ``tol <= 0`` runs exactly ``max_iter`` supersteps with no
    convergence aggregate. Returns ``(scores(v_id, hub, auth), info)``.

    ``_salsa`` (private — use :func:`salsa`): degree-normalize each
    half-step's edge weights (auth gathers ``w/outdeg_w(src)``, hub
    gathers ``w/indeg_w(dst)``), turning the power iteration into
    Lempel-Moran SALSA's stochastic backward-forward walk. The plan
    shape is unchanged — the normalizations are two extra setup
    aggregates folded into the persisted adjacency copies.
    """
    spark = edges.sparkSession
    info = HITSInfo()
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    w = F.col(weight_col) if weight_col in edges.columns else F.lit(1.0)
    pairs = edges.select("src", "dst", w.alias("w"))
    n_raw = pairs.count()
    info.n_edges = n_raw

    # Two persisted copies of the adjacency, each pre-partitioned on
    # the key its half-step joins on, and the vertex set the score
    # vectors are built from, all cached under the loop conf: at its
    # partition count and without AQE, so no superstep ever shuffles
    # the |E|-sized graph, only the |V|-sized score vectors (2·|E|
    # storage).
    with superstep_conf(spark, n_raw) as iter_parts:
        if _salsa:
            outw = pairs.groupBy("src").agg(F.sum("w").alias("ow"))
            inw = pairs.groupBy("dst").agg(F.sum("w").alias("iw"))
            fwd = pairs.join(outw, "src").select(
                "src", "dst", (F.col("w") / F.col("ow")).alias("w")
            )
            bwd = pairs.join(inw, "dst").select(
                "src", "dst", (F.col("w") / F.col("iw")).alias("w")
            )
            adj_src = fwd.repartition(iter_parts, "src").persist()
            adj_dst = bwd.repartition(iter_parts, "dst").persist()
        else:
            adj_src = pairs.repartition(iter_parts, "src").persist()
            adj_dst = pairs.repartition(iter_parts, "dst").persist()

        verts = (
            pairs.select(F.col("src").alias("v_id"))
            .union(pairs.select(F.col("dst").alias("v_id")))
        )
        if vertices is not None:
            verts = verts.union(vertices.select("v_id"))
        verts = verts.distinct().persist()
        n = verts.count()
    info.n_vertices = n
    if n == 0 or n_raw == 0:
        out = verts.select(
            "v_id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
        out = truncate_lineage(out) if n else spark.createDataFrame(
            [], "v_id long, hub double, auth double"
        )
        info.converged = True
        adj_src.unpersist()
        adj_dst.unpersist()
        verts.unpersist()
        return out, info

    # Same absolute hot-key bar as pagerank: bound the reducer keys of
    # BOTH aggregations (auth groups by dst, hub groups by src).
    if salt_partitions is None:
        hot_bar = max(10 * n_raw // max(shuffle_parts, 1), 1000)
        max_in = (
            adj_src.groupBy("dst").count().agg(F.max("count")).collect()[0][0]
        )
        max_out = (
            adj_src.groupBy("src").count().agg(F.max("count")).collect()[0][0]
        )
        salt_partitions = 16 if max((max_in or 0), (max_out or 0)) > hot_bar else 1
    info.salted = salt_partitions > 1

    check_convergence = tol > 0.0
    start_iter = 0
    state = verts.select(
        "v_id",
        F.lit(1.0 / n).alias("hub"),
        F.lit(1.0 / n).alias("auth"),
    )
    if checkpoint is not None:
        resume = checkpoint.latest()
        if resume is not None:
            start_iter, state, _meta = resume
            state = state.select("v_id", "hub", "auth")
            info.resumed_from = start_iter
            last_delta = (_meta.get("metrics") or {}).get("l1_delta")
            if (
                check_convergence
                and last_delta is not None
                and last_delta < n * tol
            ):
                info.iterations = start_iter
                info.converged = True
                info.deltas.append(last_delta)
                adj_src.unpersist()
                adj_dst.unpersist()
                verts.unpersist()
                return state, info
    state = truncate_lineage(state)
    store = EphemeralStateStore(spark, "hits") if checkpoint is None else None

    # loop-scoped config (plans/loopconf.py): graph-sized shuffle
    # partitions, AQE off — fewer scheduler jobs per superstep
    with superstep_conf(spark, n_raw):
        for it in range(start_iter + 1, max_iter + 1):
            # auth half-step: gather hub mass along edges (group by dst)
            araw = _half_step(
                adj_src, state, "src", "dst", "hub", salt_partitions
            ).persist()
            asum = araw.agg(F.sum("x").alias("s"))
            auth = (
                verts.join(
                    araw.withColumnRenamed("dst", "v_id").hint("shuffle_hash"),
                    "v_id",
                    "left",
                )
                .crossJoin(F.broadcast(asum))
                .select(
                    "v_id",
                    (F.coalesce("x", F.lit(0.0)) / F.col("s")).alias("auth"),
                )
            ).persist()
            # hub half-step: scatter the NEW auth back along edges
            hraw = _half_step(
                adj_dst, auth, "dst", "src", "auth", salt_partitions
            ).persist()
            hsum = hraw.agg(F.sum("x").alias("s"))
            new_state = (
                state.select("v_id", F.col("hub").alias("hub_prev"), F.col("auth").alias("auth_prev"))
                .join(
                    hraw.withColumnRenamed("src", "v_id").hint("shuffle_hash"),
                    "v_id",
                    "left",
                )
                .join(auth.hint("shuffle_hash"), "v_id")
                .crossJoin(F.broadcast(hsum))
                .select(
                    "v_id",
                    (F.coalesce("x", F.lit(0.0)) / F.col("s")).alias("hub"),
                    "auth",
                    "hub_prev",
                    "auth_prev",
                )
            )

            obs = None
            to_save = new_state.select("v_id", "hub", "auth")
            if check_convergence:
                from pyspark.sql import Observation

                obs = Observation(f"hits_l1_{it}")
                to_save = new_state.observe(
                    obs,
                    F.sum(
                        F.abs(F.col("hub") - F.col("hub_prev"))
                        + F.abs(F.col("auth") - F.col("auth_prev"))
                    ).alias("d"),
                ).select("v_id", "hub", "auth")
            if checkpoint is not None:
                # the marker is written after the state write, which
                # filled the L1 Observation: one commit per superstep
                saved = checkpoint.save(
                    it,
                    to_save,
                    lambda: {"tol": tol}
                    | ({"l1_delta": float(obs.get["d"])} if obs else {}),
                )
            else:
                saved = store.save(to_save, it)

            info.iterations = it
            if check_convergence:
                delta = float(obs.get["d"])
                info.deltas.append(delta)
            araw.unpersist()
            auth.unpersist()
            hraw.unpersist()
            state = saved.select("v_id", "hub", "auth")

            if check_convergence and delta < n * tol:
                info.converged = True
                break

    adj_src.unpersist()
    adj_dst.unpersist()
    verts.unpersist()
    result = state.select("v_id", "hub", "auth")
    if store is not None and info.iterations > start_iter:
        result = truncate_lineage(result)
        store.close()
    return result, info


def salsa(
    edges: DataFrame,
    max_iter: int = 50,
    tol: float = 1.0e-6,
    vertices: DataFrame | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    salt_partitions: int | None = None,
    weight_col: str = "weight",
) -> tuple[DataFrame, HITSInfo]:
    """SALSA (Lempel & Moran 2000): HITS with stochastic half-steps —
    the authority walk moves backward along an edge picked uniformly
    (weighted) from the hub's OUT-links, then forward from a vertex's
    IN-links, so scores are degree-normalized and hub spam can't
    concentrate mass the way raw HITS mutual reinforcement does. On
    transcript link graphs this ranks tools by *breadth* of invoking
    conversations rather than by the total invocation count a few
    mega-conversations can supply.

    Same iteration/normalization/convergence contract, plan shape,
    salting, and checkpoint semantics as :func:`hits` (the two
    degree normalizations fold into the persisted adjacency copies at
    setup). Returns ``(scores(v_id, hub, auth), info)``.

    Gate: ``salsa_k4`` vs the unrolled degree-normalized oracle.
    """
    return hits(
        edges,
        max_iter=max_iter,
        tol=tol,
        vertices=vertices,
        checkpoint=checkpoint,
        salt_partitions=salt_partitions,
        weight_col=weight_col,
        _salsa=True,
    )
