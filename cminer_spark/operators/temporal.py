"""Temporal / event-sequence operators: sessionization, as-of join,
funnel analysis.

These are the event-table analytics a transcript/telemetry pipeline
needs next to the link-graph algorithms: segmenting an event stream
into sessions, enriching facts with the most recent dimension state
(as-of join — an operator Spark lacks natively), and ordered-step
conversion funnels.

Scale design (all three):

* **One hash shuffle on the entity key** is the whole data movement.
  ``sessionize`` and ``asof_join`` are window passes over
  ``partitionBy(key) ORDER BY ts`` — Spark's window exchange+sort,
  no self-join, no range-join row explosion. ``funnel`` is one
  aggregate per step joined back on the key.
* **As-of via union-tag + running ``last(ignorenulls)``** instead of
  the naive ``ts_r <= ts_l`` range join: the range join materializes
  O(|left| · matches) intermediate rows per key (quadratic on hot
  keys); the union trick is strictly O(|left| + |right|) rows through
  one sort. This is the standard scalable formulation (same shape
  Flink's temporal join and pandas' ``merge_asof`` use).
* **Skew**: the unit of sequential work is one entity's event run —
  inherently order-dependent, so it cannot be salted; a pathological
  single-key run is bounded by the window operator's spillable
  external sort, and AQE rebalances the post-shuffle partitions.
* Everything is built-in expressions (whole-stage codegen) — no
  Python in the row path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "sessionize",
    "asof_join",
    "funnel",
    "temporal_reachability",
    "retention_cohorts",
]


def _unix_micros(col):
    """``unix_micros`` that also accepts TIMESTAMP_NTZ columns (parquet
    naive timestamps) — with the session timezone pinned to UTC
    (session.py) the cast is value-preserving; on TIMESTAMP it is a
    no-op."""
    return F.unix_micros(col.cast("timestamp"))


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_seconds: int = 1800,
    tie_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Assign gap-based session indexes to an event stream.

    A new session starts at the first event of a key and whenever the
    time since the previous event exceeds ``gap_seconds``. Returns the
    input columns plus ``session_idx`` (0-based per key, long).

    ``tie_cols`` break ordering ties for same-timestamp events so the
    assignment is deterministic.
    """
    order = [F.col(ts).asc(), *[F.col(c).asc() for c in tie_cols]]
    w = Window.partitionBy(key).orderBy(*order)
    us = _unix_micros(F.col(ts))
    prev = F.lag(us).over(w)
    is_new = (
        prev.isNull() | ((us - prev) > F.lit(int(gap_seconds) * 1_000_000))
    ).cast("long")
    run = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn(
        "session_idx", (F.sum(is_new).over(run) - F.lit(1)).cast("long")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: Sequence[str],
    right_tie: Sequence[str] = (),
    tolerance_seconds: int | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join: for every ``left`` row, attach the most
    recent ``right`` row with ``right.ts <= left.ts`` on the same
    ``key`` (left join — no match ⇒ nulls).

    ``right_cols`` are the payload columns carried over (emitted as
    ``{prefix}{col}``, plus ``{prefix}{ts}`` for the matched event
    time). Ties on ``right.ts`` are broken by ``right_tie`` (largest
    wins) so the result is deterministic. ``tolerance_seconds`` nulls
    out matches older than the window (pandas ``merge_asof``
    semantics).

    Implementation: tag and union both sides, one window sorted by
    ``(ts, side, tie)`` per key, and a running
    ``last(struct(right payload), ignorenulls=True)`` — the struct is
    non-null exactly when a right row exists, so legitimately-null
    payload fields survive (a per-column ``last`` would skip past
    them to an older row). Right rows sort before left rows at equal
    timestamps, making the join inclusive.
    """
    carry = [c for c in right_cols if c != ts]
    l_tag = left.withColumn("_side", F.lit(1)).withColumn(
        "_match", F.lit(None).cast(
            right.select(
                F.struct(
                    F.col(ts).alias("_mts"),
                    *[F.col(c) for c in carry],
                    *[F.col(c).alias(f"_tie_{i}") for i, c in enumerate(right_tie)],
                ).alias("_match")
            ).schema["_match"].dataType.simpleString()
        )
    )
    r_tag = right.select(
        F.col(key),
        F.col(ts),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(ts).alias("_mts"),
            *[F.col(c) for c in carry],
            *[F.col(c).alias(f"_tie_{i}") for i, c in enumerate(right_tie)],
        ).alias("_match"),
    )
    u = l_tag.unionByName(r_tag, allowMissingColumns=True)

    tie_order = [F.col("_match")[f"_tie_{i}"].asc_nulls_first() for i in range(len(right_tie))]
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc(), *tie_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_match", ignorenulls=True).over(w))

    out = matched.where(F.col("_side") == 1)
    m = F.col("_m")
    if tolerance_seconds is not None:
        in_tol = (
            _unix_micros(F.col(ts)) - _unix_micros(m["_mts"])
        ) <= F.lit(int(tolerance_seconds) * 1_000_000)
        m = F.when(in_tol, F.col("_m"))
    out = out.withColumn("_m2", m)
    cols = [F.col(c) for c in left.columns]
    cols.append(F.col("_m2")["_mts"].alias(f"{prefix}{ts}"))
    cols.extend(F.col("_m2")[c].alias(f"{prefix}{c}") for c in carry)
    return out.select(*cols)


def funnel(
    events: DataFrame,
    steps: Sequence[str],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-step conversion funnel: how many keys completed each
    prefix of ``steps`` in order (step k strictly after step k-1,
    earliest-completion greedy semantics).

    Returns ``(step string, step_idx long, users long)`` — one row per
    step, ``users`` monotonically non-increasing.

    Each step is one filtered aggregate ``min(ts) GROUP BY key``
    joined to the previous step's completion frame on ``key`` —
    |steps| shuffles over frames that only ever shrink; no windows
    over the full event set, no cross products. Per-step state rides
    the :class:`~cminer_spark.plans.checkpoint.EphemeralStateStore`
    parquet double-buffer, so long funnels keep a flat plan and each
    step's user count is read from parquet footers, not a second pass
    over the step's plan. (The store has not been measured against
    ``localCheckpoint`` here; see its docstring for the loops that
    were.)
    """
    from cminer_spark.plans.checkpoint import EphemeralStateStore

    spark = events.sparkSession
    store = EphemeralStateStore(spark, "funnel")
    counts: list[tuple[str, int, int]] = []
    prev: DataFrame | None = None
    try:
        for i, step in enumerate(steps):
            ev = events.where(F.col(type_col) == step).select(
                F.col(key), F.col(ts)
            )
            if prev is None:
                cur = ev.groupBy(key).agg(F.min(ts).alias("_t"))
            else:
                cur = (
                    ev.join(prev, key)
                    .where(F.col(ts) > F.col("_t"))
                    .groupBy(key)
                    .agg(F.min(ts).alias("_t"))
                )
            cur = store.save(cur, i)
            counts.append((step, i, cur.count()))
            prev = cur
        return spark.createDataFrame(
            counts, "step string, step_idx long, users long"
        )
    finally:
        store.close()


def temporal_reachability(
    edges: DataFrame,
    sources: list[int],
    max_hops: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "ts_us",
    start_ts: int = 0,
    strict: bool = True,
) -> DataFrame:
    """Time-respecting earliest-arrival reachability: for each source,
    the earliest time every node can be reached along a path whose
    edge timestamps increase (``strict``) / never decrease, using at
    most ``max_hops`` edges, starting no earlier than ``start_ts``.

    Returns ``(source, node, arrive_ts, hops)`` — ``hops`` is the
    fewest edges achieving that earliest arrival; trivial
    source-at-start rows are not emitted.

    Algorithm (level-synchronous, the classic distributed
    earliest-arrival BFS): the hop-``h`` frontier is the per-
    ``(source, node)`` MIN arrival over hop-``h`` candidates;
    expanding only the min is lossless because an earlier arrival at
    a node permits a superset of outgoing edges — so each hop is ONE
    equi-join on the node key (the timestamp constraint is a post-join
    filter, never a range join) plus ONE combinable min-aggregate.
    State is bounded by |sources| x |nodes| regardless of path count.
    Hub skew on the join key is the same exposure PageRank's
    superstep has; at |sources| >> 1 scale, salt or batch sources.

    Gate ``temporal_reach_k2`` replicates the identical unrolled
    semantics in DuckDB (see gate_events.reach_oracle_sql).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    spark = edges.sparkSession
    e = edges.select(
        F.col(src_col).alias("_u"),
        F.col(dst_col).alias("_v"),
        F.col(ts_col).cast("long").alias("_t"),
    )
    frontier = spark.createDataFrame(
        [(int(s), int(s), int(start_ts)) for s in sources],
        "source long, node long, arrive_ts long",
    )
    cond = F.col("_t") > F.col("arrive_ts") if strict else (
        F.col("_t") >= F.col("arrive_ts")
    )
    all_cands = None
    for h in range(1, max_hops + 1):
        # shuffle_hash, not broadcast: the frontier grows toward
        # |sources| x |nodes| — forcing a broadcast would bound the
        # operator by driver memory (AQE still picks broadcast on its
        # own when the frontier is actually small)
        cand = (
            frontier.hint("shuffle_hash")
            .join(e, frontier["node"] == e["_u"])
            .where(cond)
            .groupBy("source", F.col("_v").alias("node"))
            .agg(F.min("_t").alias("arrive_ts"))
        )
        labeled = cand.select(
            "source", "node", "arrive_ts", F.lit(h).cast("long").alias("hops")
        )
        all_cands = labeled if all_cands is None else all_cands.unionByName(
            labeled
        )
        frontier = cand
    return (
        all_cands.groupBy("source", "node")
        .agg(F.min(F.struct("arrive_ts", "hops")).alias("best"))
        .select(
            "source",
            "node",
            F.col("best.arrive_ts").alias("arrive_ts"),
            F.col("best.hops").alias("hops"),
        )
    )


def retention_cohorts(
    events: DataFrame,
    period_seconds: int = 7 * 86400,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention grid: ``(cohort, period_offset, n_cohort,
    n_active, retention)`` — users are cohorted by the period of their
    FIRST event, and ``retention`` is the fraction of each cohort
    active ``period_offset`` periods later (offset 0 is 1.0 by
    construction).

    Periods are integer indexes ``floor(epoch_us / period_us)`` —
    deterministic integer math, no calendar/week-start/timezone
    conventions to disagree on across engines (gate
    ``retention_weekly`` compares exact int64 cohort keys).

    Plan shape (scales to 10¹²-event logs): one distinct-(user,
    period) aggregate, one per-user MIN (both combinable map-side),
    one user-keyed join to tag activity with its cohort, one
    (cohort, offset) count. Cohort keys are low-cardinality; the only
    per-user shuffles are uniform on user id.
    """
    per_us = int(period_seconds) * 1_000_000
    p = F.floor(_unix_micros(F.col(ts_col)) / F.lit(per_us)).cast("long")
    act = events.select(F.col(user_col).alias("u"), p.alias("per")).distinct()
    cohorts = act.groupBy("u").agg(F.min("per").alias("cohort"))
    sizes = cohorts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    grid = (
        act.join(cohorts, "u")
        .select(
            "cohort",
            (F.col("per") - F.col("cohort")).alias("period_offset"),
        )
        .groupBy("cohort", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return grid.join(sizes, "cohort").select(
        "cohort",
        "period_offset",
        F.col("n_cohort").cast("long").alias("n_cohort"),
        F.col("n_active").cast("long").alias("n_active"),
        F.round(F.col("n_active") / F.col("n_cohort"), 6).alias("retention"),
    )
