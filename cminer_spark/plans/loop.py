"""One superstep driver for the vertex-state loops.

PageRank, LPA, MIS, greedy coloring, k-core, hash-min CC, the
generic :func:`~cminer_spark.operators.pregel.pregel`, the frontier
relaxation behind shortest paths, landmark distances and k-hop
neighborhoods (:mod:`cminer_spark.operators.paths`), the power
iterations (Katz, eigenvector, HITS/SALSA) and WL color refinement
are the same loop: build a new state frame from the old one, watch
one convergence scalar, materialize the state so the next round's
plan starts from a scan.
:func:`superstep_loop` owns everything around the round body:

* **resume** — with a durable checkpoint the loop restarts from
  ``checkpoint.latest()``, which must hold every column of ``state0``
  (else ``ValueError``); when that committed round recorded a stop
  value of 0 the state is a fixpoint and the loop returns at once,
  running zero rounds;
* **loop conf** — the rounds run under
  :func:`~cminer_spark.plans.loopconf.superstep_conf` sized to
  ``n_rows`` (AQE off, graph-sized shuffle partitions);
* **stop** — the ``stop`` aggregate rides the state write as an
  ``Observation``, so convergence costs no extra Spark job; the loop
  stops when it reads 0 or NULL;
* **state rule** — every round cuts lineage with
  :func:`~cminer_spark.plans.checkpoint.truncate_lineage`
  (``localCheckpoint``); a durable run's ``checkpoint.save`` makes the
  same cut and writes the round's parquet and its one commit marker
  (which carries the stop value) in the background, overlapping the
  next round; the loop ``flush``-es the checkpoint in a ``finally``,
  so every round it reports is committed. Measured on a 24.5k-edge
  transcript graph at ``local[4]`` (5-6 interleaved samples a side),
  ``localCheckpoint`` beat the parquet double-buffer on every loop:
  k-core 16 rounds 6.15 s vs 8.73 s, hash-min CC 10 rounds 3.87 s vs
  4.66 s, LPA 10 rounds 3.85 s vs 5.05 s;
* **record** — :class:`LoopInfo` holds the last round, whether the
  stop fired, where the run resumed from, the per-round stop values
  and each round's wall time, from the round body's start to the end
  of the cut and the stop read — in a durable run including any wait
  for the previous round's write.

One round is one Spark job (the cut) in an ephemeral run; a durable
round adds its background write, a second job off the critical path. The
round body ``step(state, rnd)`` returns the new state; it may carry
extra columns (e.g. ``prev_<col>``) for ``stop`` to compare, and the
driver keeps only the columns of ``state0``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

from cminer_spark.plans.checkpoint import SuperstepCheckpoint, truncate_lineage
from cminer_spark.plans.loopconf import superstep_conf

__all__ = ["superstep_loop", "LoopInfo"]


@dataclass
class LoopInfo:
    rounds: int = 0
    converged: bool = False
    resumed_from: int | None = None
    history: list = field(default_factory=list)
    round_secs: list = field(default_factory=list)

    @property
    def uncolored(self) -> list:
        """Per-round uncolored counts of a coloring run (its ``history``)."""
        return self.history


def superstep_loop(
    state0: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    n_rows: int,
    max_rounds: int,
    stop: Column | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    name: str,
) -> tuple[DataFrame, LoopInfo]:
    """Run rounds ``1..max_rounds`` of ``step`` from ``state0``;
    returns ``(state, info)``. ``n_rows`` sizes the loop conf (the
    frame shuffled every round, usually the adjacency)."""
    info = LoopInfo()
    cols = state0.columns
    state, start = state0, 0
    if checkpoint is not None:
        resume = checkpoint.latest()
        if resume is not None:
            start, state, meta = resume
            missing = [c for c in cols if c not in state.columns]
            if missing:
                raise ValueError(
                    f"{name}: checkpoint {checkpoint.dir} round {start} lacks "
                    f"the state columns {missing}; it was written by another "
                    "operator, mode or state layout"
                )
            info.resumed_from = info.rounds = start
            if meta["metrics"].get("stop") == 0:
                info.converged = True
                return state, info
    # under the caller's conf: inside the loop conf this cut saves a job
    # or two of set-up but measured no faster (3 fresh-JVM samples a
    # side over every driver operator, graph_loops-sized graph); PageRank,
    # whose initial state is its set-up probe, calls the driver inside it
    state = truncate_lineage(state)

    with superstep_conf(state0.sparkSession, n_rows):
        try:
            for rnd in range(start + 1, max_rounds + 1):
                t0 = time.perf_counter()
                new = step(state, rnd)
                obs = None
                if stop is not None:
                    obs = Observation(f"{name}_stop_{rnd}")
                    new = new.observe(obs, stop.alias("stop"))
                new = new.select(*cols)
                state = (
                    checkpoint.save(rnd, new, _round_metrics(rnd, obs))
                    if checkpoint is not None
                    else truncate_lineage(new)
                )
                info.rounds = rnd
                val = None if obs is None else obs.get["stop"]
                info.round_secs.append(round(time.perf_counter() - t0, 3))
                if obs is None:
                    continue
                info.history.append(val)
                if not val:
                    info.converged = True
                    break
        finally:
            if checkpoint is not None:
                checkpoint.flush()  # every round reported is committed
    return state, info


def _round_metrics(rnd: int, obs: Observation | None) -> Callable[[], dict]:
    """A durable round's marker metrics, read once the cut has filled
    the stop ``Observation``."""
    if obs is None:
        return lambda: {"round": rnd}
    return lambda: {"round": rnd, "stop": obs.get["stop"]}
