"""The superstep driver's contract (plans/loop.py), checked through the
operators that run on it, on one tiny graph:

(a) a run killed after round 1 and resumed equals a fresh run;
(b) resuming at a committed fixpoint runs zero rounds;
(c) every round costs exactly one Spark job and records its wall time;
(d) a durable round writes its commit marker once, and that marker
    carries the round's stop value.

(a), (b) and (d) cover the operators that take a checkpoint; coloring,
hash-min CC, landmark BFS, Katz, eigenvector, SALSA and fixed-k
PageRank are checked on (c) only (SALSA shares HITS's round body,
fixed-k PageRank convergence-mode PageRank's).

A resume from a checkpoint whose state lacks a column of the loop's
state raises ``ValueError``. A durable round's background write that
fails is raised by the operator call, which leaves no writer thread
alive and a checkpoint that resumes from the last committed round; a
committed marker's per-partition lineage adds up to its parquet."""

from __future__ import annotations

import functools
import operator
import re
import threading

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

from cminer_spark.operators import (
    eigenvector_centrality,
    greedy_coloring,
    hits,
    katz,
    label_propagation,
    maximal_independent_set,
    pagerank,
    pregel,
    salsa,
)
from cminer_spark.operators.kcore import core_numbers
from cminer_spark.operators.paths import landmark_distances, shortest_paths
from cminer_spark.operators.pregel import _hashmin
from cminer_spark.plans import loop
from cminer_spark.plans.checkpoint import (
    SuperstepCheckpoint,
    _HadoopIO,
    truncate_lineage,
)
from tests.conftest import edges_df

# two 4-cliques joined by a 3-edge path, plus a pendant tail
PAIRS = (
    [(a, b) for a in range(4) for b in range(a + 1, 4)]
    + [(a, b) for a in range(7, 11) for b in range(a + 1, 11)]
    + [(3, 4), (4, 5), (5, 6), (6, 7), (10, 11), (11, 12), (12, 13)]
)


def _min_label(df, rounds, ck):
    """Hash-min CC through the generic pregel API, stopping when stable."""
    sym = df.select("src", "dst").union(df.select("dst", "src"))
    state0 = (
        sym.select(F.col("src").alias("v_id"))
        .distinct()
        .select("v_id", F.col("v_id").alias("component"))
    )
    return pregel(
        sym,
        state0,
        messages={"m": F.col("src_component")},
        aggregates={"mn": F.min("m")},
        update={
            "component": F.least("component", F.coalesce("mn", "component"))
        },
        max_supersteps=rounds,
        stop=F.sum((F.col("component") != F.col("prev_component")).cast("long")),
        checkpoint=ck,
    )


def _seeds(df, ids):
    return df.sparkSession.createDataFrame([(i,) for i in ids], "v_id long")


# name -> (run(df, max_rounds, checkpoint) -> (frame, info), full budget)
OPS = {
    "lpa": (
        lambda df, r, ck: label_propagation(df, max_rounds=r, checkpoint=ck),
        20,
    ),
    "mis": (
        lambda df, r, ck: maximal_independent_set(df, max_rounds=r, checkpoint=ck),
        20,
    ),
    "kcore": (
        lambda df, r, ck: core_numbers(df, max_rounds=r, checkpoint=ck),
        20,
    ),
    "pregel": (_min_label, 20),
    "coloring": (lambda df, r, ck: greedy_coloring(df, max_rounds=r), 20),
    "hashmin": (lambda df, r, ck: _hashmin(df, r, None, False), 4),
    "sssp": (
        lambda df, r, ck: shortest_paths(
            df, _seeds(df, [0]), directed=False, max_rounds=r, checkpoint=ck
        ),
        20,
    ),
    "landmark": (
        lambda df, r, ck: landmark_distances(df, _seeds(df, [0, 13]), max_rounds=r),
        20,
    ),
    "katz": (lambda df, r, ck: katz(df, max_iter=r), 4),
    # the graph is a DAG: its walk mass dies out after 13 rounds
    "eigen": (lambda df, r, ck: eigenvector_centrality(df, max_iter=r), 4),
    "hits": (lambda df, r, ck: hits(df, max_iter=r, checkpoint=ck), 50),
    "salsa": (lambda df, r, ck: salsa(df, max_iter=r), 4),
    "pagerank": (
        lambda df, r, ck: pagerank(df, tol=0.0, max_iter=r, checkpoint=ck),
        4,
    ),
    # r iterations take r + 1 rounds: the stop reads a round late
    "pagerank_tol": (
        lambda df, r, ck: pagerank(df, tol=1e-3, max_iter=r, checkpoint=ck),
        100,
    ),
}
RESUMABLE = {"lpa", "mis", "kcore", "pregel", "sssp", "hits", "pagerank_tol"}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _round_jobs(spark, monkeypatch, op, fn):
    """Run ``fn`` and count the Spark jobs of each round: every lineage
    cut opens a new job group, so a round's group holds all the jobs
    between the previous cut and its own."""
    sc = spark.sparkContext
    groups: list[str] = []

    def cut(df):
        out = truncate_lineage(df)
        groups.append(f"loop-{op}-{len(groups) + 1}")
        sc.setJobGroup(groups[-1], groups[-1])
        return out

    monkeypatch.setattr(loop, "truncate_lineage", cut)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # the last group opens after the final round
    return out, [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups[:-1]]


@pytest.mark.parametrize("op", sorted(OPS))
def test_superstep_loop_contract(spark, tmp_ckpt, monkeypatch, op):
    run, full = OPS[op]
    df = edges_df(spark, PAIRS)

    (fresh, info), jobs = _round_jobs(
        spark, monkeypatch, op, lambda: run(df, full, None)
    )
    assert info.rounds > 1
    assert jobs == [1] * info.rounds  # (c)
    assert len(info.round_secs) == info.rounds
    if op not in RESUMABLE:
        return
    assert info.converged
    monkeypatch.undo()

    markers: list[str] = []
    write = _HadoopIO.write_text_atomic

    def counted(io, path, text):
        markers.append(path)
        return write(io, path, text)

    monkeypatch.setattr(_HadoopIO, "write_text_atomic", counted)
    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    run(df, 1, ck)  # killed after round 1
    resumed, rinfo = run(df, full, ck)
    assert rinfo.resumed_from == 1 and rinfo.rounds == info.rounds
    assert _rows(resumed) == _rows(fresh)  # (a)
    assert len(markers) == len(set(markers)) == info.rounds  # (d)
    assert ck.latest()[2]["metrics"] == {"round": info.rounds, "stop": 0}

    committed = ck.committed_iterations()
    again, ainfo = run(df, full, ck)
    assert ainfo.converged and ainfo.rounds == rinfo.rounds  # (b)
    assert ck.committed_iterations() == committed
    assert _rows(again) == _rows(fresh)


def test_resume_rejects_foreign_state(spark, tmp_ckpt):
    """A committed round whose state lacks a column of the loop's state
    (here PageRank's older ``(v_id, rank)`` layout) is refused by name,
    not failed on inside the round body."""
    df = edges_df(spark, PAIRS)
    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    old = spark.createDataFrame(
        [(v, 1 / 14) for v in range(14)], "v_id long, rank double"
    )
    ck.save(1, old, {"round": 1, "stop": 0.5})
    want = f"checkpoint {ck.dir} round 1 lacks the state columns ['im']"
    with pytest.raises(ValueError, match=re.escape(want)):
        pagerank(df, tol=0.0, max_iter=4, checkpoint=ck)


def test_failed_write_raises_and_resumes(spark, tmp_ckpt, monkeypatch):
    """Round 2's commit marker fails in the background: the call raises
    that error once no checkpoint writer is alive, round 1 stays the
    last commit, and a rerun resumes from it to the fresh ranks."""
    df = edges_df(spark, PAIRS)
    boom = OSError("marker write failed")
    write = _HadoopIO.write_text_atomic

    def failing(io, path, text):
        if path.endswith("/iter_2.json"):
            raise boom
        return write(io, path, text)

    monkeypatch.setattr(_HadoopIO, "write_text_atomic", failing)
    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    with pytest.raises(OSError) as raised:
        pagerank(df, tol=0.0, max_iter=4, checkpoint=ck)
    assert raised.value is boom
    assert not [t for t in threading.enumerate() if isinstance(t, InheritableThread)]
    monkeypatch.undo()

    assert ck.latest()[0] == 1
    resumed, info = pagerank(df, tol=0.0, max_iter=4, checkpoint=ck)
    fresh, _ = pagerank(df, tol=0.0, max_iter=4)
    assert info.resumed_from == 1 and info.rounds == 4
    got, want = dict(_rows(resumed)), dict(_rows(fresh))
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-12 for v in want)


def test_marker_lineage_matches_parquet(spark, tmp_ckpt):
    """A committed marker's partitions (one per write task that wrote
    rows) add up to the parquet it commits: their row counts sum to the
    marker's and the read-back's, their content hashes XOR to the
    read-back's."""
    df = spark.createDataFrame(
        [(v, v / 7, None if v % 5 else f"s{v}") for v in range(60)],
        "v_id long, x double, tag string",
    ).repartition(4, "v_id")
    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    ck.save(1, df, {"round": 1})
    i, back, meta = ck.latest()
    parts = meta["partitions"]
    assert i == 1 and len(parts) == 4
    assert meta["rows"] == sum(p["rows"] for p in parts) == back.count() == 60
    want = back.select(F.expr("bit_xor(xxhash64(struct(*)))")).first()[0]
    assert functools.reduce(operator.xor, (p["content_hash"] for p in parts)) == want
