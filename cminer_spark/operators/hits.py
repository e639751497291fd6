"""HITS (hubs & authorities) as DataFrame shuffle-aggregate supersteps.

Standard Kleinberg iteration with L1 normalization each half-step
(the form that unrolls cleanly to SQL and needs no final
renormalization):

    auth_i(v) = Σ_{u→v} w(u,v) · hub_{i-1}(u)    , normalized Σauth = 1
    hub_i(u)  = Σ_{u→v} w(u,v) · auth_i(v)       , normalized Σhub  = 1
    converged ⇔ Σ_v |hub_i - hub_{i-1}| + |auth_i - auth_{i-1}| < N·tol

One round body on :func:`~cminer_spark.plans.loop.superstep_loop`
(resume, loop conf, ``Observation`` stop, ``localCheckpoint`` or
durable state); a round is one Spark job:

* the weighted adjacency is built ONCE and persisted TWICE — one copy
  hash-partitioned on ``src`` (probed by the hub vector), one on
  ``dst`` (probed by the auth vector), both at the loop's partition
  count — so no superstep ever shuffles the |E|-sized graph, only the
  |V|-sized score vectors;
* both half-step aggregations get optional two-stage salting
  (pre-aggregate on ``(key, hash(other)%k)``) with the same absolute
  hot-key auto-probe as PageRank, bounding any single reducer key on
  hub-dominated transcript graphs;
* both L1 normalizers are driver literals, because both are linear
  functionals of the previous hub vector: ``Σ auth_raw = Σ_u hub(u)·
  ow(u)`` and, the hub half-step being scale-invariant in auth,
  ``Σ_u (A·auth_raw)(u) = Σ_u hub(u)·c(u)``, with ``ow(u) = Σ_v w(u,v)``,
  ``iw(v) = Σ_u w(u,v)`` and ``c(u) = Σ_v w(u,v)·iw(v)`` static columns
  of the state. The two sums ride each round's state write as an
  ``Observation`` (the initial state's ride the initial cut; a resumed
  state's come from one aggregate), so the L1 delta is exact inside
  the same job and feeds the driver's stop.

The reference has no HITS; this extends the SURVEY §2.7 north-rule
family (PageRank/CC/LPA/triangles) with the canonical companion
centrality, oracle-gated like the rest.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from cminer_spark.operators.graph import vertex_set
from cminer_spark.plans.checkpoint import SuperstepCheckpoint, truncate_lineage
from cminer_spark.plans.loop import LoopInfo, superstep_loop
from cminer_spark.plans.loopconf import iteration_partitions, superstep_conf


@dataclass
class HITSInfo(LoopInfo):
    n_vertices: int = 0
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


def _norms() -> list[Column]:
    """The two half-step L1 normalizers of the round after a state
    with hub vector ``hub``: ``Σ auth_raw`` and ``Σ A·auth_raw``."""
    return [
        F.sum(F.col("hub") * F.col("ow")).alias("sa"),
        F.sum(F.col("hub") * F.col("c")).alias("sh"),
    ]


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
    convergence aggregate; ``tol > 0`` records the L1 delta per
    superstep in ``info.history`` (the last one read as 0 once it is
    under ``N·tol``). Returns ``(scores(v_id, hub, auth), info)``.

    ``_salsa`` (private — use :func:`salsa`): degree-normalize each
    half-step's edge weights (auth gathers ``w/outdeg_w(src)``, hub
    gathers ``w/indeg_w(dst)``), turning the power iteration into
    Lempel-Moran SALSA's stochastic backward-forward walk. The plan
    shape is unchanged — the normalizations are two extra setup
    aggregates folded into the persisted adjacency copies.
    """
    spark = edges.sparkSession
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    w = F.col(weight_col) if weight_col in edges.columns else F.lit(1.0)
    pairs = edges.select("src", "dst", w.alias("w"))

    # AQE off for the set-up (and no broadcast joins): the count and
    # the probe are one job each, and the cached frames' plans are
    # built without AQE. The two adjacency copies, each pre-partitioned
    # on the key its half-step joins on, and the vertex table are
    # cached at the loop's partition count (2·|E| storage).
    with superstep_conf(spark, None):
        n_raw = pairs.count()
        parts = iteration_partitions(spark, n_raw)
        fwd = bwd = pairs
        if _salsa:
            outw = pairs.groupBy("src").agg(F.sum("w").alias("ow"))
            inw = pairs.groupBy("dst").agg(F.sum("w").alias("iw"))
            fwd = pairs.join(outw.hint("shuffle_hash"), "src").select(
                "src", "dst", (F.col("w") / F.col("ow")).alias("w")
            )
            bwd = pairs.join(inw.hint("shuffle_hash"), "dst").select(
                "src", "dst", (F.col("w") / F.col("iw")).alias("w")
            )
        adj_src = fwd.repartition(parts, "src").persist()
        adj_dst = bwd.repartition(parts, "dst").persist()

        iw = adj_dst.groupBy("dst").agg(
            F.sum("w").alias("iw"), F.count(F.lit(1)).alias("n_in")
        )
        out = (
            adj_src.join(iw.hint("shuffle_hash"), "dst")
            .groupBy(F.col("src").alias("v_id"))
            .agg(
                F.sum("w").alias("ow"),
                F.sum(F.col("w") * F.col("iw")).alias("c"),
                F.count(F.lit(1)).alias("n_out"),
            )
        )
        verts = (
            vertex_set(pairs, vertices)
            .join(out.hint("shuffle_hash"), "v_id", "left")
            .join(
                iw.select(F.col("dst").alias("v_id"), "n_in").hint("shuffle_hash"),
                "v_id",
                "left",
            )
            .select(
                "v_id",
                F.coalesce("ow", F.lit(0.0)).alias("ow"),
                F.coalesce("c", F.lit(0.0)).alias("c"),
                "n_in",
                "n_out",
            )
            .repartition(parts, "v_id")
            .persist()
        )
        probe = verts.agg(
            F.count(F.lit(1)).alias("n"),
            F.max("n_in").alias("max_in"),
            F.max("n_out").alias("max_out"),
        ).collect()[0]
    n = probe.n
    # Same absolute hot-key bar as pagerank: bound the reducer keys of
    # BOTH aggregations (auth groups by dst, hub groups by src).
    salt = salt_partitions
    if salt is None:
        hot_bar = max(10 * n_raw // max(shuffle_parts, 1), 1000)
        salt = 16 if max(probe.max_in or 0, probe.max_out or 0) > hot_bar else 1

    if n_raw == 0:
        state = verts.select(
            "v_id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
        state = truncate_lineage(state) if n else spark.createDataFrame(
            [], "v_id long, hub double, auth double"
        )
        info = LoopInfo(converged=True)
    else:
        norms = [Observation("hits_norms_0")]
        state0 = verts.select(
            "v_id",
            F.lit(1.0 / n).alias("hub"),
            F.lit(1.0 / n).alias("auth"),
            "ow",
            "c",
        ).observe(norms[0], *_norms())

        def step(state: DataFrame, rnd: int) -> DataFrame:
            if rnd > 1 and len(norms) == 1:
                # resumed: no write of this run observed the state yet
                got = state.agg(*_norms()).collect()[0].asDict()
            else:
                got = norms[-1].get
            # auth half-step: gather hub mass along edges (group by dst)
            araw = _half_step(adj_src, state, "src", "dst", "hub", salt).select(
                F.col("dst").alias("v_id"), F.col("x").alias("a")
            )
            # hub half-step: scatter the raw auth back along edges
            hraw = _half_step(adj_dst, araw, "dst", "src", "a", salt).select(
                F.col("src").alias("v_id"), F.col("x").alias("h")
            )
            new = (
                state.join(araw.hint("shuffle_hash"), "v_id", "left")
                .join(hraw.hint("shuffle_hash"), "v_id", "left")
                .select(
                    "v_id",
                    (F.coalesce("h", F.lit(0.0)) / F.lit(got["sh"])).alias("hub"),
                    (F.coalesce("a", F.lit(0.0)) / F.lit(got["sa"])).alias("auth"),
                    "ow",
                    "c",
                    F.col("hub").alias("hub_prev"),
                    F.col("auth").alias("auth_prev"),
                )
            )
            norms.append(Observation(f"hits_norms_{rnd}"))
            return new.observe(norms[-1], *_norms())

        delta = F.sum(
            F.abs(F.col("hub") - F.col("hub_prev"))
            + F.abs(F.col("auth") - F.col("auth_prev"))
        )
        state, info = superstep_loop(
            state0,
            step,
            n_rows=n_raw,
            max_rounds=max_iter,
            stop=F.when(delta >= n * tol, delta).otherwise(0.0) if tol > 0 else None,
            checkpoint=checkpoint,
            name="hits",
        )
    adj_src.unpersist()
    adj_dst.unpersist()
    verts.unpersist()
    return state.select("v_id", "hub", "auth"), HITSInfo(
        **vars(info), n_vertices=n, salted=salt > 1
    )


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
