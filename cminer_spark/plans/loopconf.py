"""Scale-adaptive execution configuration for superstep loops.

Iterative operators run the same tiny, fixed-shape plan tens of times.
Two session-level defaults that are right for one-shot analytical
queries are wrong inside such a loop:

* **AQE** re-plans after every exchange, which turns one logical
  superstep into ~10 scheduler jobs (one per materialized query
  stage + broadcast + write).  Each job costs a fixed scheduling /
  Py4J / listener round-trip — measured 100-250 ms per job on a
  local[32] driver — which dominates when the per-superstep data fits
  in a handful of partitions.  The loop plans are static (the same
  joins and aggregates every round, shuffle-hash pinned by hints, skew
  handled by explicit salting), so adaptivity buys nothing inside the
  loop.  With AQE off a whole superstep is ONE scheduler job.
* **``spark.sql.shuffle.partitions``** is sized for the session, not
  the graph.  Supersteps should shuffle into a partition count derived
  from the input size (``ROWS_PER_PARTITION`` = 32k rows/partition,
  capped at the session setting) so a 100k-edge graph runs 4-partition
  shuffles while a 66M-edge graph keeps the full spread — the same
  rule at every scale, never a constant tuned to the local core count.

:func:`superstep_conf` applies both for the duration of the loop and
restores the session values afterwards (the returned state frames are
always materialized inside the loop — localCheckpoint, the parquet
double-buffer or a durable checkpoint — so nothing downstream
re-executes under the loop config).
:func:`~cminer_spark.plans.loop.superstep_loop` enters it for every
loop that runs on the driver.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

# ~32k rows per shuffle partition balances task-scheduling overhead
# against parallelism for the row sizes these loops shuffle (8-140
# bytes): a 100k-edge graph gets ~4 partitions (meaningful tasks, one
# scheduler job), a 2M-row exploded state fills the session spread,
# and anything >= session_partitions × 32k keeps the full session
# setting (the cap), so large-graph plans are unchanged. Measured at
# sf0.1/local[32]: 250k rows/partition serialized the LPA mode
# aggregate (1 partition for 237k rows) and the dim-8 feature
# propagation (8 partitions for 1.9M rows) — 32k restores the
# parallelism while keeping the tiny-graph job-count win.
ROWS_PER_PARTITION = 32_000

_LOOP_CONF = {
    "spark.sql.adaptive.enabled": "false",
}


def iteration_partitions(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = ROWS_PER_PARTITION,
) -> int:
    """Partition count for iterative state: ~``rows_per_partition``
    rows each, at least 1, capped at the session shuffle setting."""
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(shuffle_parts, max(1, -(-n_rows // rows_per_partition)))


@contextmanager
def superstep_conf(
    spark: SparkSession,
    n_rows: int | None,
    rows_per_partition: int = ROWS_PER_PARTITION,
):
    """Context manager: loop-scoped shuffle sizing + AQE off.

    ``n_rows`` is the size of the frame the loop shuffles every round
    (edges for graph supersteps). Yields the partition count so the
    operator can also use it for explicit repartitions. ``n_rows=None``
    keeps the session's partition count and only turns AQE off: for a
    set-up job that runs before the loop's size is known (it is then
    one scheduler job instead of one per query stage).
    """
    parts = (
        int(spark.conf.get("spark.sql.shuffle.partitions"))
        if n_rows is None
        else iteration_partitions(spark, n_rows, rows_per_partition)
    )
    saved: dict[str, str | None] = {}
    keys = ["spark.sql.shuffle.partitions", *_LOOP_CONF]
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # pragma: no cover - unset key
            saved[k] = None
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    for k, v in _LOOP_CONF.items():
        spark.conf.set(k, v)
    try:
        yield parts
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
