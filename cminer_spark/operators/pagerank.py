"""PageRank as pure DataFrame shuffle-aggregate supersteps.

Semantics match the standard power iteration with uniform
personalization, uniform dangling redistribution and L1 convergence
(the numpy/networkx oracle the tests compare against, mirroring the
reference's networkx-as-oracle strategy):

    rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)·w(u,v)/out_w(u)
                              + dangling_mass/N)
    converged ⇔ Σ_v |rank'(v) - rank(v)| < N·tol

One round body on :func:`~cminer_spark.plans.loop.superstep_loop` in
every mode — fixed-k, convergence, durable, warm start and resume (the
driver owns resume, the loop conf, the ``Observation`` stop and the
``localCheckpoint`` or durable save); a round is one Spark job, two
durable (the checkpoint's cut, and its parquet write in the background).
Scale design (SURVEY §2.7, §4):

* the normalized adjacency (parallel multigraph edges sum weights) is
  built ONCE, hash-partitioned on ``src`` at the loop's partition
  count and cached — it materializes inside round 1's job, and each
  superstep shuffles only the rank vector, never the graph (on a
  cluster this is a bucketed Iceberg/parquet table, same plan shape);
* hot destinations (hub tools) get explicit two-stage salted
  aggregation — pre-aggregate on ``(dst, hash(src)%k)``, finalize on
  ``dst`` — bounding any single reducer key even at 10^12 edges;
* the state holds the raw in-mass ``im(v) = Σ_{u→v} rank(u)·p(u,v)``
  of every vertex, and a state's ranks are the projection
  ``teleport + d·(im + dmass·reset)``: the dangling mass
  ``dmass = 1 - Σ im`` (the conservation invariant) is a driver literal
  from an ``Observation`` riding the state write (a resumed state's
  comes from one aggregate), so no superstep pays a dangling-mass job;
* convergence mode watches the L1 delta one round late: round i + 1
  writes rank_i beside its in-mass (``r_prev``) and observes
  ``Σ|rank_i - rank_{i-1}|``, so the stop fires one round after the
  converged iteration and the ranks returned are that iteration's;
* set-up is ONE job, the edge count: the initial state is the
  in-degree table, and the driver's initial cut of it observes n, the
  hub in-degree (the salting decision), the seeds present and a warm
  start's mass. A fixed-k call is k + 2 jobs (salted too), a
  convergence run of ``it`` iterations it + 3, a durable fixed-k call
  2k + 2.

``localCheckpoint`` replaced the parquet double-buffer by measurement
on a 25k-edge transcript graph at ``local[4]``: fixed-k (8 supersteps)
PageRank 5.11 s → 3.47 s with the rule swapped alone (8/8 interleaved
fresh-JVM pairs); convergence mode on the sf0.1 events graph (3
supersteps) 2.18 s → 1.87 s, 5 samples a side.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from cminer_spark.plans.checkpoint import SuperstepCheckpoint
from cminer_spark.plans.loop import LoopInfo, superstep_loop
from cminer_spark.plans.loopconf import superstep_conf


@dataclass
class PageRankInfo(LoopInfo):
    """The driver's :class:`~cminer_spark.plans.loop.LoopInfo` plus
    PageRank's own fields. ``iterations`` and ``resumed_from`` count
    power iterations: a convergence-mode round carries the previous
    iteration's ranks, so there both are one less than the rounds."""

    iterations: int = 0
    n_vertices: int = 0
    n_edges: int = 0
    salted: bool = False
    setup_sec: float = 0.0

    @property
    def superstep_secs(self) -> list:
        """Wall time of each round (the driver's ``round_secs``)."""
        return self.round_secs


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
    renormalized to Σ = 1 (its mass is observed by the set-up cut) so
    the conservation dangling trick holds. The fixpoint is unchanged
    (power iteration converges to the unique stationary vector from
    any Σ=1 start) — only the superstep count drops. Ignored when a
    checkpoint resume is available.
    Returns ``(ranks(v_id, rank), info)``.
    """
    t_setup = time.perf_counter()
    spark = edges.sparkSession
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if seeds is not None and not seeds:
        raise ValueError("seeds must be a non-empty vertex-id list")

    w = F.col(weight_col) if weight_col in edges.columns else F.lit(1.0)
    pairs = edges.select("src", "dst", w.alias("w"))

    # Size the iteration partitioning to the GRAPH, not the session:
    # every superstep schedules one task per adjacency partition, so a
    # 60k-edge graph spread over 64 partitions pays 64 task launches
    # per superstep for sub-millisecond work each (measured ~6s/step
    # fixed cost on the sf0.1 events graph). superstep_conf sizes the
    # loop's partitions from the edge count (~32k edges each, capped at
    # spark.sql.shuffle.partitions, so the large-graph plan keeps the
    # full 2×cores spread) and turns AQE off: every superstep, and the
    # set-up cut, is then ONE scheduler job instead of ~10 AQE
    # query-stage jobs.
    #
    # This is the ONE set-up scan of the input; its count is also
    # reported as ``info.n_edges``. Semantics: multigraph edge ROWS —
    # parallel (src, dst) edges count separately (they carry separate
    # weight shares through the stochastic matrix).
    with superstep_conf(spark, None):
        n_raw = pairs.count()
    if n_raw == 0 and (vertices is None or vertices.isEmpty()):
        return spark.createDataFrame([], "v_id long, rank double"), PageRankInfo()
    seed_list = sorted({int(s) for s in seeds}) if seeds is not None else None
    converge = tol > 0.0
    # a convergence-mode round reports the previous iteration
    lag = 1 if converge else 0

    with superstep_conf(spark, n_raw) as iter_parts:
        # Normalized adjacency in ONE shuffle: hash-partition on src,
        # then a whole-partition window total per src divides each edge
        # weight in place (the explicit repartition satisfies the
        # window's distribution, so Catalyst adds no second exchange —
        # 4.6x faster set-up than the groupBy+join formulation).
        # Parallel multigraph edges stay as rows; the per-superstep
        # aggregation re-sums them at dst, so the stochastic matrix is
        # identical (cross-checked to 1e-12 in tests).
        out_w = F.sum("w").over(Window.partitionBy("src"))
        norm = (
            pairs.repartition(iter_parts, "src")
            .withColumn("p", F.col("w") / out_w)
            .select("src", "dst", "p")
        )

        # The in-degree table is the vertex set — grouped on v_id, so
        # hash-partitioned at iter_parts, the layout of every state ⋈
        # sums join — and the initial state. Built from pairs, not the
        # adjacency, so its row order (and with it the order of the
        # dangling-mass sum) is the plain vertex scan's. Its ``im``
        # holds a warm start's prior rank (NULL elsewhere).
        deg = pairs.select(F.col("src").alias("v_id"), F.lit(0).alias("d")).union(
            pairs.select(F.col("dst").alias("v_id"), F.lit(1).alias("d"))
        )
        if vertices is not None:
            deg = deg.union(vertices.select("v_id", F.lit(0).alias("d")))
        table = deg.groupBy("v_id").agg(F.sum("d").alias("in_deg"))
        if init_ranks is None:
            table = table.withColumn("im", F.lit(None).cast("double"))
        else:
            table = table.join(
                init_ranks.select("v_id", F.col("rank").alias("im")), "v_id", "left"
            )
        probe = [
            F.count(F.lit(1)).alias("n"),
            F.max("in_deg").alias("hub"),
            F.sum("im").alias("s"),
            F.count("im").alias("c"),
        ]
        if seed_list is not None:
            probe.append(
                F.sum(F.col("v_id").isin(seed_list).cast("long")).alias("k")
            )
        obs0 = Observation("pagerank_setup")
        state0 = table.observe(obs0, *probe).select(
            "v_id",
            "im",
            *([F.lit(None).cast("double").alias("r_prev")] if converge else []),
        )

        # reset vector: uniform 1/n, or uniform over the seed set
        # (personalized); Σreset = 1 keeps the Σrank = 1 conservation
        # invariant the dangling mass depends on. The uniform branch
        # keeps literal arithmetic, so un-seeded results are the same
        # doubles as a broadcast dangling-mass column would give.
        reset = (
            F.when(
                F.col("v_id").isin(seed_list), F.lit(1.0 / len(seed_list))
            ).otherwise(F.lit(0.0))
            if seed_list is not None
            else None
        )
        run: dict = {}  # set-up scalars and the adjacency, at the first read
        dm_obs: dict[int, Observation] = {}  # round -> Σ im of its write

        def set_up(state: DataFrame, r: int) -> None:
            """Read the set-up scalars for the state after round ``r``
            (the first this call reads), then decide salting and cache
            the adjacency."""
            run["setup_sec"] = round(time.perf_counter() - t_setup, 3)
            # a resumed run's initial cut read the checkpoint, not state0
            got = obs0.get if r == 0 else table.agg(*probe).collect()[0].asDict()
            n = got["n"]
            if seed_list is not None and (got["k"] or 0) < len(seed_list):
                # an absent seed would silently shrink Σreset below 1 and
                # drift every rank, so it is an error
                present = {
                    row.v_id
                    for row in state.where(F.col("v_id").isin(seed_list))
                    .select("v_id")
                    .collect()
                }
                missing = [s for s in seed_list if s not in present]
                raise ValueError(
                    f"personalization seeds not in graph: {missing[:10]}"
                    + (" ..." if len(missing) > 10 else "")
                )
            # Salting decision: a destination is "hot" when its in-degree
            # dwarfs the average per-shuffle-partition share (partial
            # map-side aggregation already bounds per-mapper load;
            # salting bounds the reducer key). The ABSOLUTE bar is
            # deliberate — a graph with several equally-hot destinations
            # has no RELATIVE hubs yet still needs its reducer keys
            # bounded.
            salt = salt_partitions
            if salt is None:
                hot_bar = max(10 * n_raw // max(shuffle_parts, 1), 1000)
                salt = 16 if (got["hub"] or 0) > hot_bar else 1
            adj = norm
            if salt > 1:
                adj = norm.withColumn("salt", F.pmod(F.xxhash64("src"), F.lit(salt)))
            if init_ranks is not None:
                # prior ranks where known, 1/n elsewhere, renormalized to
                # Σ = 1
                total = (got["s"] or 0.0) + (n - got["c"]) / n or 1.0
                rank0 = F.coalesce("im", F.lit(1.0 / n)) / F.lit(float(total))
            else:
                rank0 = reset if reset is not None else F.lit(1.0 / n)
            run.update(n=n, salt=salt, adj=adj.persist(), rank0=rank0)

        def rank_of(state: DataFrame, r: int):
            """The rank column of ``state``, the state after round ``r``."""
            if not run:
                set_up(state, r)
            if r == 0:
                return run["rank0"]
            s = (
                dm_obs[r].get["s"]
                if r in dm_obs
                else state.agg(F.sum("im")).collect()[0][0]
            )
            dm = 1.0 - float(s or 0.0)
            if reset is not None:
                return F.lit(1.0 - damping) * reset + F.lit(damping) * (
                    F.col("im") + F.lit(dm) * reset
                )
            n = run["n"]
            return F.lit((1.0 - damping) / n) + F.lit(damping) * (
                F.col("im") + F.lit(dm) / n
            )

        def step(state: DataFrame, rnd: int) -> DataFrame:
            rank = rank_of(state, rnd - 1)
            # shuffle_hash hint: the state side is a checkpoint scan with
            # unknown stats, so Catalyst would fall back to a sort-merge
            # join and RE-SORT the cached adjacency every superstep
            # (observed in explain()).
            salted = run["salt"] > 1
            contribs = (
                run["adj"]
                .join(
                    state.select(F.col("v_id").alias("src"), rank.alias("rank")).hint(
                        "shuffle_hash"
                    ),
                    "src",
                )
                .select(
                    *(["salt"] if salted else []),
                    "dst",
                    (F.col("p") * F.col("rank")).alias("m"),
                )
            )
            if salted:
                sums = (
                    contribs.groupBy("dst", "salt")
                    .agg(F.sum("m").alias("c"))
                    .groupBy("dst")
                    .agg(F.sum("c").alias("in_mass"))
                )
            else:
                sums = contribs.groupBy("dst").agg(F.sum("m").alias("in_mass"))
            # state 0 has no previous ranks: round 1's delta is +inf, so
            # it never stops
            delta = F.abs(rank - F.col("r_prev")) if rnd > 1 else F.lit(float("inf"))
            new = state.join(
                sums.withColumnRenamed("dst", "v_id").hint("shuffle_hash"),
                "v_id",
                "left",
            ).select(
                "v_id",
                F.coalesce("in_mass", F.lit(0.0)).alias("im"),
                *([rank.alias("r_prev"), delta.alias("_d")] if converge else []),
            )
            dm_obs[rnd] = Observation(f"pagerank_dm_{rnd}")
            return new.observe(dm_obs[rnd], F.sum("im").alias("s"))

        stop = None
        if converge:
            d = F.sum("_d")
            stop = F.when(d < F.count(F.lit(1)) * F.lit(tol), F.lit(0.0)).otherwise(d)
        state, info = superstep_loop(
            state0,
            step,
            n_rows=n_raw,
            max_rounds=max_iter + lag,
            stop=stop,
            checkpoint=checkpoint,
            name="pagerank",
        )
        # The ranks are one projection over the last state: no final
        # materialization.
        if converge:
            rank = F.col("r_prev")
            if not run:  # a resumed fixpoint ran no round
                set_up(state, info.rounds)
        else:
            rank = rank_of(state, info.rounds)
    run["adj"].unpersist()
    if info.resumed_from is not None:
        info.resumed_from -= lag
    return state.select("v_id", rank.alias("rank")), PageRankInfo(
        **vars(info),
        iterations=info.rounds - lag,
        n_vertices=run["n"],
        n_edges=n_raw,
        salted=run["salt"] > 1,
        setup_sec=run["setup_sec"],
    )
