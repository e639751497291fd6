"""PageRank as pure DataFrame shuffle-aggregate supersteps.

Semantics match the standard power iteration with uniform
personalization, uniform dangling redistribution and L1 convergence
(the numpy/networkx oracle the tests compare against, mirroring the
reference's networkx-as-oracle strategy,
``/root/reference/test/checker.py:77-79``):

    rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)·w(u,v)/out_w(u)
                              + dangling_mass/N)
    converged ⇔ Σ_v |rank'(v) - rank(v)| < N·tol

Scale design (SURVEY §2.7, §4):

* the normalized adjacency (parallel multigraph edges sum weights) is
  built ONCE, hash-partitioned on ``src`` to the shuffle partition
  count and persisted — each superstep shuffles only the rank vector,
  never the graph (on a cluster this is a bucketed Iceberg/parquet
  table, same plan shape);
* hot destinations (hub tools) get explicit two-stage salted
  aggregation — pre-aggregate on ``(dst, hash(src)%k)``, finalize on
  ``dst`` — bounding any single reducer key even at 10^12 edges;
* dangling mass comes from the conservation invariant (1 - Σ in-mass):
  a fixed-k run reads it from an ``Observation`` riding the state cut,
  so each superstep is ONE Spark job; convergence-driven runs take it
  from a 1-row broadcast cross join and add exactly one scalar (the L1
  delta, also an ``Observation``) per superstep;
* per-superstep state goes through
  :class:`~cminer_spark.plans.checkpoint.SuperstepCheckpoint` when a
  directory is given (durable lineage + exact resume), else an eager
  ``localCheckpoint`` (:func:`~cminer_spark.plans.checkpoint.truncate_lineage`)
  — either way the iterative plan is truncated every superstep (SURVEY
  §7.3 lineage blowup). ``localCheckpoint`` replaced the parquet
  double-buffer by measurement on a 25k-edge transcript graph at
  ``local[4]``: fixed-k (8 supersteps) PageRank 5.11 s → 3.47 s with
  the rule swapped alone (8/8 interleaved fresh-JVM pairs), 3.56 s →
  2.57 s with the set-up below trimmed too (10/10 pairs); convergence
  mode on the sf0.1 events graph (3 supersteps) 2.18 s → 1.87 s, 5
  samples a side;
* set-up is two jobs: the edge count and ONE probe that builds the
  adjacency and the in-degree table (vertex set, n and the hub
  in-degree for the salting decision). A fresh start is a projection
  of that table and the returned ranks are a projection of the last
  cut, so neither is materialized again: a fixed-k call is k + 2 jobs
  (k + 3 when salted), down from k + 6.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.plans.checkpoint import SuperstepCheckpoint, truncate_lineage
from cminer_spark.plans.loopconf import superstep_conf


@dataclass
class PageRankInfo:
    iterations: int = 0
    converged: bool = False
    deltas: list = field(default_factory=list)
    n_vertices: int = 0
    n_edges: int = 0
    resumed_from: int | None = None
    salted: bool = False
    setup_sec: float = 0.0
    superstep_secs: list = field(default_factory=list)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1.0e-6,
    max_iter: int = 100,
    vertices: DataFrame | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    salt_partitions: int | None = None,
    weight_col: str = "weight",
    seeds: list | None = None,
    init_ranks: DataFrame | None = None,
) -> tuple[DataFrame, PageRankInfo]:
    """Run PageRank on ``edges(src, dst[, weight])``.

    ``vertices`` (optional, column ``v_id``) adds isolated vertices.
    ``salt_partitions``: None = auto-enable when a hub vertex is
    detected; 0/1 = off; k>1 = two-stage salted aggregation.
    ``tol <= 0`` runs exactly ``max_iter`` supersteps with no
    convergence aggregate (fixed-k mode).
    ``seeds``: PERSONALIZED PageRank (random walk with restart) — the
    reset vector is uniform over the given vertex ids instead of over
    all vertices. The conservation-invariant dangling trick is
    unchanged (dangling mass re-enters through the same reset vector,
    so Σrank stays exactly 1); the seed list is driver-small and
    compiles to an ``isin`` predicate — no extra join or shuffle per
    superstep.
    ``init_ranks``: WARM START — initialize the rank vector from a
    prior result ``(v_id, rank)`` (e.g. yesterday's ranks after a
    delta ingest). Vertices absent from it start at 1/n; the vector is
    renormalized to Σ = 1 (one setup aggregate) so the conservation
    dangling trick holds. The fixpoint is unchanged (power iteration
    converges to the unique stationary vector from any Σ=1 start) —
    only the superstep count drops. Ignored when a checkpoint resume
    is available.
    Returns ``(ranks(v_id, rank), info)``.
    """
    import time

    t_setup = time.time()
    spark = edges.sparkSession
    info = PageRankInfo()
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    w = F.col(weight_col) if weight_col in edges.columns else F.lit(1.0)
    pairs = edges.select("src", "dst", w.alias("w"))

    # Size the iteration partitioning to the GRAPH, not the session:
    # every superstep schedules one task per adjacency partition, so a
    # 60k-edge graph spread over 64 partitions pays 64 task launches
    # per superstep for sub-millisecond work each (measured ~6s/step
    # fixed cost on the sf0.1 events graph). ~32k edges/partition
    # (loopconf.ROWS_PER_PARTITION) keeps tasks meaningful; the cap at
    # spark.sql.shuffle.partitions
    # preserves the large-graph plan (66M edges still gets the full
    # 2×cores spread — the scaling campaign is unaffected).
    # superstep_conf additionally turns AQE off and sizes
    # spark.sql.shuffle.partitions to the same graph-derived count for
    # the loop's duration (plans/loopconf.py): every superstep is then
    # ONE scheduler job instead of ~10 AQE query-stage jobs.
    #
    # This is the ONE setup scan of the input; its count is also
    # reported as ``info.n_edges``. Semantics: multigraph edge ROWS —
    # parallel (src, dst) edges count separately (they carry separate
    # weight shares through the stochastic matrix); the distinct-pair
    # cardinality is not computed. The normalized adjacency is NOT
    # separately counted — its persist materializes inside the one
    # set-up probe. superstep_conf(n_rows=None) only turns AQE off, so
    # this count is one job, not a map-stage job plus a result job.
    with superstep_conf(spark, None):
        n_raw = pairs.count()
    info.n_edges = n_raw
    with superstep_conf(spark, n_raw) as iter_parts:
        return _pagerank_run(
            spark,
            info,
            pairs,
            iter_parts,
            shuffle_parts,
            damping,
            tol,
            max_iter,
            vertices,
            checkpoint,
            salt_partitions,
            seeds,
            init_ranks,
            t_setup,
        )


def _pagerank_run(
    spark,
    info: PageRankInfo,
    pairs: DataFrame,
    iter_parts: int,
    shuffle_parts: int,
    damping: float,
    tol: float,
    max_iter: int,
    vertices: DataFrame | None,
    checkpoint: SuperstepCheckpoint | None,
    salt_partitions: int | None,
    seeds: list | None,
    init_ranks: DataFrame | None,
    t_setup: float,
) -> tuple[DataFrame, PageRankInfo]:
    import time

    # Normalized adjacency, built once, in ONE shuffle: hash-partition
    # on src, then a whole-partition window total per src divides each
    # edge weight in place (the window's required distribution is
    # satisfied by the explicit repartition, so Catalyst adds no second
    # exchange — 4.6x faster setup than the groupBy+join formulation).
    # Parallel multigraph edges stay as rows; the per-superstep
    # contribution aggregation re-sums them at dst, so the stochastic
    # matrix is identical (cross-checked to 1e-12 in tests).
    from pyspark.sql import Window

    out_w = F.sum("w").over(Window.partitionBy("src"))
    norm = (
        pairs.repartition(iter_parts, "src")
        .withColumn("p", F.col("w") / out_w)
        .select("src", "dst", "p")
    )
    adj = norm.persist()

    # ONE set-up probe: the in-degree table is the vertex set — grouped
    # on v_id, so it is already hash-partitioned at iter_parts, the
    # layout of every superstep's verts ⋈ sums join — and one aggregate
    # over it gives n and the hub in-degree. The probe is unioned with
    # a count over adj so the same job materializes adj too: no
    # superstep pays for building it. The table is built from pairs,
    # not adj, so its row order (and with it the order of the
    # dangling-mass sum) is the plain vertex scan's.
    deg = pairs.select(F.col("src").alias("v_id"), F.lit(0).alias("d")).union(
        pairs.select(F.col("dst").alias("v_id"), F.lit(1).alias("d"))
    )
    if vertices is not None:
        deg = deg.union(vertices.select("v_id", F.lit(0).alias("d")))
    in_deg = deg.groupBy("v_id").agg(F.sum("d").alias("in_deg")).persist()
    (n, max_in), _ = (
        in_deg.agg(F.count(F.lit(1)), F.max("in_deg"))
        .union(adj.agg(F.count(F.lit(1)), F.lit(0).cast("long")))
        .collect()
    )
    info.n_vertices = n
    verts = in_deg.select("v_id")
    if n == 0:
        adj.unpersist()
        in_deg.unpersist()
        return spark.createDataFrame([], "v_id long, rank double"), info

    # Salting decision: a destination is "hot" when its in-degree
    # dwarfs the average per-shuffle-partition share (partial map-side
    # aggregation already bounds per-mapper load; salting bounds the
    # reducer key). The ABSOLUTE bar is deliberate — a graph with
    # several equally-hot destinations has no RELATIVE hubs (max ≤
    # 4×p99) yet still needs its reducer keys bounded, so the
    # quantile-based graph.hub_vertices probe stays a standalone
    # diagnostic rather than the gate here.
    if salt_partitions is None:
        hot_bar = max(10 * info.n_edges // max(shuffle_parts, 1), 1000)
        salt_partitions = 16 if max_in > hot_bar else 1
    info.salted = salt_partitions > 1
    if info.salted:
        adj_salted = adj.withColumn(
            "salt", F.pmod(F.xxhash64("src"), F.lit(salt_partitions))
        ).persist()
        adj_salted.count()
        adj.unpersist()
        adj = adj_salted

    # state: (v_id, rank). The dangling mass each superstep is NOT a
    # separate scan: power iteration preserves Σrank = 1 exactly (up
    # to ~1e-16/step float drift), so dangling = 1 - Σ in_mass — one
    # scalar aggregate over the already-computed sums.
    # reset vector: uniform 1/n, or uniform over the seed set
    # (personalized). The uniform branch keeps its original literal
    # arithmetic so un-seeded results stay bit-identical.
    if seeds is not None:
        if not seeds:
            raise ValueError("seeds must be a non-empty vertex-id list")
        seed_list = sorted({int(s) for s in seeds})
        # every seed must exist in the graph: an absent seed silently
        # shrinks Σreset below 1, breaking the Σrank = 1 conservation
        # invariant the dangling-mass computation depends on, so all
        # ranks would drift instead of erroring
        present = {
            r.v_id
            for r in verts.where(F.col("v_id").isin(seed_list)).collect()
        }
        missing = [s for s in seed_list if s not in present]
        if missing:
            raise ValueError(
                f"personalization seeds not in graph: {missing[:10]}"
                + (" ..." if len(missing) > 10 else "")
            )
        reset = F.when(
            F.col("v_id").isin(seed_list), F.lit(1.0 / len(seed_list))
        ).otherwise(F.lit(0.0))
    else:
        reset = None

    check_convergence = tol > 0.0
    start_iter = 0
    if init_ranks is not None:
        # warm start: prior ranks where known, 1/n elsewhere, then
        # renormalized so Σrank = 1 exactly (the conservation-invariant
        # dangling computation depends on it)
        warm = verts.join(
            init_ranks.select("v_id", F.col("rank").alias("_r0")),
            "v_id",
            "left",
        ).select(
            "v_id", F.coalesce("_r0", F.lit(1.0 / n)).alias("_r1")
        )
        warm = warm.persist()
        total0 = warm.agg(F.sum("_r1")).collect()[0][0] or 1.0
        state = warm.select(
            "v_id", (F.col("_r1") / F.lit(float(total0))).alias("rank")
        )
        state = truncate_lineage(state)
        warm.unpersist()
    else:
        state = verts.select(
            "v_id",
            (reset if reset is not None else F.lit(1.0 / n)).alias("rank"),
        )
    if checkpoint is not None:
        resume = checkpoint.latest()
        if resume is not None:
            start_iter, state, _meta = resume
            state = state.select("v_id", "rank")
            info.resumed_from = start_iter
            # If the resumed-from superstep already met the convergence
            # criterion, STOP: an uninterrupted run returned exactly
            # this state, and running one "extra" superstep would drift
            # the ranks past it (resume must equal fresh).
            last_delta = (_meta.get("metrics") or {}).get("l1_delta")
            if (
                check_convergence
                and last_delta is not None
                and last_delta < n * tol
            ):
                info.iterations = start_iter
                info.converged = True
                info.deltas.append(last_delta)
                adj.unpersist()
                in_deg.unpersist()
                return state.select("v_id", "rank"), info
            state = truncate_lineage(state)
    # A fresh start needs no cut: its state is a projection of the
    # persisted, counted vertex table.
    info.setup_sec = round(time.time() - t_setup, 3)

    if not check_convergence and checkpoint is None:
        # ---- fixed-k ephemeral fast path: ONE job per superstep ----
        # State stores the raw in-mass ``im``; the rank is materialized
        # lazily as ``teleport + d·(im + dmass·reset)`` with ``dmass``
        # a driver-side literal taken from an Observation riding the
        # state write. Per-row arithmetic is unchanged (a literal and a
        # broadcast column hold the same double), so ranks are
        # bit-identical to the broadcast formulation — but the dangling
        # broadcast job and the sums persist/unpersist are gone: the
        # whole superstep is the state-cut job.
        from pyspark.sql import Observation

        if reset is not None:
            teleport_c = F.lit(1.0 - damping) * reset

            def rank_of(dm):
                return teleport_c + F.lit(damping) * (
                    F.col("im") + F.lit(dm) * reset
                )

        else:
            teleport_c = F.lit((1.0 - damping) / n)

            def rank_of(dm):
                return teleport_c + F.lit(damping) * (
                    F.col("im") + F.lit(dm) / n
                )

        state_rank = F.col("rank")
        for it in range(1, max_iter + 1):
            t_step = time.time()
            joined = adj.join(
                state.select(
                    F.col("v_id").alias("src"), state_rank.alias("rank")
                ).hint("shuffle_hash"),
                "src",
            )
            salt_cols = ["salt"] if info.salted else []
            contribs = joined.select(
                *salt_cols, "dst", (F.col("p") * F.col("rank")).alias("m")
            )
            if info.salted:
                sums = (
                    contribs.groupBy("dst", "salt")
                    .agg(F.sum("m").alias("c"))
                    .groupBy("dst")
                    .agg(F.sum("c").alias("in_mass"))
                )
            else:
                sums = contribs.groupBy("dst").agg(F.sum("m").alias("in_mass"))
            new_state = verts.join(
                sums.withColumnRenamed("dst", "v_id").hint("shuffle_hash"),
                "v_id",
                "left",
            ).select(
                "v_id", F.coalesce("in_mass", F.lit(0.0)).alias("im")
            )
            obs = Observation(f"pr_dm_{it}")
            state = truncate_lineage(
                new_state.observe(obs, F.sum("im").alias("s"))
            )
            dmass = 1.0 - float(obs.get["s"] or 0.0)
            state_rank = rank_of(dmass)
            info.iterations = it
            info.superstep_secs.append(round(time.time() - t_step, 3))

        # The ranks are one projection over the last cut state: no
        # final materialization.
        adj.unpersist()
        in_deg.unpersist()
        return state.select("v_id", state_rank.alias("rank")), info

    for it in range(start_iter + 1, max_iter + 1):
        t_step = time.time()
        # shuffle_hash hint: the state side comes from a checkpoint
        # scan with unknown stats, so Catalyst would fall back to a
        # sort-merge join and RE-SORT the cached adjacency every
        # superstep (observed in explain()).
        joined = adj.join(
            state.select(F.col("v_id").alias("src"), "rank").hint("shuffle_hash"),
            "src",
        )
        salt_cols = ["salt"] if info.salted else []
        contribs = joined.select(
            *salt_cols, "dst", (F.col("p") * F.col("rank")).alias("m")
        )
        if info.salted:
            sums = (
                contribs.groupBy("dst", "salt")
                .agg(F.sum("m").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("in_mass"))
            )
        else:
            sums = contribs.groupBy("dst").agg(F.sum("m").alias("in_mass"))

        # dangling mass via the conservation invariant: 1-row broadcast
        # cross join, computed in-plan from sums. sums is persisted for
        # the superstep so the broadcast subquery and the main join
        # share ONE computation of the contribs chain.
        sums = sums.persist()
        dangling_df = sums.agg(
            (F.lit(1.0) - F.coalesce(F.sum("in_mass"), F.lit(0.0))).alias("dmass")
        )
        base = verts if not check_convergence else state
        # Personalized runs teleport (and re-inject dangling mass)
        # through the reset vector instead of uniformly; Σreset = 1
        # keeps the Σrank = 1 conservation invariant that the dangling
        # trick depends on. The uniform branch keeps its original
        # literal arithmetic so un-seeded results stay bit-identical.
        if reset is not None:
            teleport = F.lit(1.0 - damping) * reset
            dangling_term = F.col("dmass") * reset
        else:
            teleport = F.lit((1.0 - damping) / n)
            dangling_term = F.col("dmass") / n
        new_state = (
            base.join(
                sums.withColumnRenamed("dst", "v_id").hint("shuffle_hash"),
                "v_id",
                "left",
            )
            .crossJoin(F.broadcast(dangling_df))
            .select(
                "v_id",
                (
                    teleport
                    + F.lit(damping)
                    * (
                        F.coalesce("in_mass", F.lit(0.0))
                        + dangling_term
                    )
                ).alias("rank"),
                *(
                    [F.col("rank").alias("rank_prev")]
                    if check_convergence
                    else []
                ),
            )
        )

        # The L1 convergence delta rides the state write for free:
        # df.observe() computes it inside the write job, so convergence
        # mode no longer pays a second scan of the saved state per
        # superstep (round-1 fixed-cost finding). rank_prev is consumed
        # by the observation and never written.
        obs = None
        to_save = new_state
        if check_convergence:
            from pyspark.sql import Observation

            obs = Observation(f"pr_l1_{it}")
            to_save = new_state.observe(
                obs, F.sum(F.abs(F.col("rank") - F.col("rank_prev"))).alias("d")
            ).select("v_id", "rank")
        if checkpoint is not None:
            # the marker is written after the state write, which filled
            # the L1 Observation: one commit per superstep
            saved = checkpoint.save(
                it,
                to_save,
                lambda: {"tol": tol, "damping": damping}
                | ({"l1_delta": float(obs.get["d"])} if obs else {}),
            )
        else:
            saved = truncate_lineage(to_save)

        info.iterations = it
        if check_convergence:
            delta = float(obs.get["d"])
            info.deltas.append(delta)
        sums.unpersist()
        state = saved.select("v_id", "rank")
        info.superstep_secs.append(round(time.time() - t_step, 3))

        if check_convergence and delta < n * tol:
            info.converged = True
            break

    adj.unpersist()
    in_deg.unpersist()
    return state.select("v_id", "rank"), info
