"""Generic Pregel vertex-program API (operators/pregel.py):
differential parity vs the specialized operators, convergence stop,
multi-column state, checkpoint/resume, and hook validation."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cminer_spark.operators.components import connected_components
from cminer_spark.operators.pregel import pregel, pregel_components
from cminer_spark.plans.checkpoint import SuperstepCheckpoint
from tests.oracles import hashmin_oracle


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _rand_pairs(seed, n_v, n_e):
    rng = random.Random(seed)
    return [(rng.randrange(n_v), rng.randrange(n_v)) for _ in range(n_e)]


def _labels(df):
    return {(r.v_id, r.component) for r in df.collect()}


def test_pregel_cc_matches_hashmin_every_round(spark):
    pairs = _rand_pairs(1, 60, 90)
    df = _edges(spark, pairs)
    for rounds in (1, 3, 8):
        assert _labels(pregel_components(df, rounds)) == set(
            hashmin_oracle(pairs, rounds).items()
        )


def test_pregel_cc_converges_to_exact_components(spark):
    df = _edges(spark, _rand_pairs(2, 80, 100))
    exact, _ = connected_components(df)
    got = pregel_components(df, rounds=40, stop_when_stable=True)
    assert _labels(got) == _labels(exact)


def test_pregel_early_stop(spark):
    # path 0-1-2-3-4: hash-min stabilizes after <= 5 rounds; with the
    # stop aggregate the loop must report convergence well before 30
    df = _edges(spark, [(i, i + 1) for i in range(5)])
    sym = df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    state0 = (
        df.select(F.col("src").alias("v_id"))
        .union(df.select(F.col("dst").alias("v_id")))
        .distinct()
        .select("v_id", F.col("v_id").alias("component"))
    )
    out, info = pregel(
        sym,
        state0,
        messages={"m": F.col("src_component")},
        aggregates={"mn": F.min("m")},
        update={
            "component": F.least(
                F.col("component"), F.coalesce("mn", F.col("component"))
            )
        },
        max_supersteps=30,
        stop=F.sum(
            (F.col("component") != F.col("prev_component")).cast("long")
        ),
    )
    assert info.converged and info.rounds <= 7
    assert {r.component for r in out.collect()} == {0}


def test_pregel_in_degree_program(spark):
    df = _edges(spark, _rand_pairs(3, 30, 70))
    state0 = (
        df.select(F.col("src").alias("v_id"))
        .union(df.select(F.col("dst").alias("v_id")))
        .distinct()
        .select("v_id", F.lit(0).cast("long").alias("deg"))
    )
    out, info = pregel(
        df,
        state0,
        messages={"one": F.lit(1).cast("long")},
        aggregates={"s": F.sum("one")},
        update={"deg": F.coalesce("s", F.lit(0).cast("long"))},
        max_supersteps=1,
    )
    want = {
        r.dst: r.cnt
        for r in df.groupBy("dst").agg(F.count("*").alias("cnt")).collect()
    }
    got = {r.v_id: r.deg for r in out.collect()}
    assert info.rounds == 1
    for v, d in got.items():
        assert d == want.get(v, 0)


def test_pregel_multi_column_state(spark):
    # min- and max-label propagation in ONE program must equal two
    # separate runs — state columns update independently per superstep
    pairs = _rand_pairs(4, 40, 60)
    df = _edges(spark, pairs)
    sym = df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    verts = (
        df.select(F.col("src").alias("v_id"))
        .union(df.select(F.col("dst").alias("v_id")))
        .distinct()
    )
    state0 = verts.select(
        "v_id",
        F.col("v_id").alias("lo"),
        F.col("v_id").alias("hi"),
    )
    out, _ = pregel(
        sym,
        state0,
        messages={"mlo": F.col("src_lo"), "mhi": F.col("src_hi")},
        aggregates={"amin": F.min("mlo"), "amax": F.max("mhi")},
        update={
            "lo": F.least(F.col("lo"), F.coalesce("amin", F.col("lo"))),
            "hi": F.greatest(F.col("hi"), F.coalesce("amax", F.col("hi"))),
        },
        max_supersteps=5,
    )
    lo_only = pregel_components(df, rounds=5)
    lo_want = {r.v_id: r.component for r in lo_only.collect()}
    for r in out.collect():
        assert r.lo == lo_want[r.v_id]
        assert r.hi >= r.v_id


def test_pregel_resume_equals_fresh(spark, tmp_ckpt):
    df = _edges(spark, _rand_pairs(5, 100, 140))
    fresh = pregel_components(df, rounds=8)

    sym = (
        df.where(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )
    sym = sym.union(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().select(F.col("u").alias("src"), F.col("v").alias("dst"))
    state0 = (
        df.select(F.col("src").alias("v_id"))
        .union(df.select(F.col("dst").alias("v_id")))
        .distinct()
        .select("v_id", F.col("v_id").alias("component"))
    )
    hooks = dict(
        messages={"m": F.col("src_component")},
        aggregates={"mn": F.min("m")},
        update={
            "component": F.least(
                F.col("component"), F.coalesce("mn", F.col("component"))
            )
        },
    )
    ck = SuperstepCheckpoint(spark, tmp_ckpt)
    pregel(sym, state0, max_supersteps=3, checkpoint=ck, **hooks)
    resumed, info = pregel(
        sym, state0, max_supersteps=8, checkpoint=ck, **hooks
    )
    assert info.resumed_from == 3
    assert _labels(resumed) == _labels(fresh)


def test_pregel_weighted_sssp_program(spark):
    """Min-plus relaxation written as a user vertex program must match
    the specialized Bellman-Ford operator — the 'users can build
    operators we didn't ship' claim, differentially checked."""
    from cminer_spark.operators.paths import shortest_paths

    rng = random.Random(9)
    rows = [
        (rng.randrange(25), rng.randrange(25), round(rng.uniform(0.5, 3.0), 2))
        for _ in range(60)
    ]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    sources = spark.createDataFrame([(0,), (7,)], "v_id long")

    want, _ = shortest_paths(
        edges, sources, weight_col="w", directed=True, max_rounds=25
    )
    want_d = {r.v_id: r.dist for r in want.collect()}

    inf = float("inf")
    verts = (
        edges.select(F.col("src").alias("v_id"))
        .union(edges.select(F.col("dst").alias("v_id")))
        .union(sources.select("v_id"))
        .distinct()
    )
    state0 = verts.join(
        sources.withColumn("is_src", F.lit(True)), "v_id", "left"
    ).select(
        "v_id",
        F.when(F.col("is_src"), F.lit(0.0)).otherwise(F.lit(inf)).alias("dist"),
    )
    out, info = pregel(
        edges,
        state0,
        messages={"cand": F.col("src_dist") + F.col("w")},
        aggregates={"best": F.min("cand")},
        update={
            "dist": F.least(F.col("dist"), F.coalesce("best", F.col("dist")))
        },
        max_supersteps=25,
        stop=F.sum((F.col("dist") != F.col("prev_dist")).cast("long")),
    )
    got_d = {r.v_id: r.dist for r in out.where(F.col("dist") != inf).collect()}
    assert info.converged
    assert set(got_d) == set(want_d)
    for v, d in got_d.items():
        assert d == pytest.approx(want_d[v], abs=1e-9)


def test_pregel_validates_hooks(spark):
    df = _edges(spark, [(0, 1)])
    state0 = df.select(F.col("src").alias("v_id"), F.lit(0).alias("x"))
    with pytest.raises(ValueError, match="update must cover"):
        pregel(df, state0, {"m": F.lit(1)}, {"s": F.sum("m")}, {"y": F.lit(0)})
    with pytest.raises(ValueError, match="collide"):
        pregel(df, state0, {"m": F.lit(1)}, {"x": F.sum("m")}, {"x": F.lit(0)})
    with pytest.raises(ValueError, match="v_id"):
        pregel(
            df,
            df.select(F.col("src").alias("vid"), F.lit(0).alias("x")),
            {"m": F.lit(1)},
            {"s": F.sum("m")},
            {"x": F.lit(0)},
        )
    with pytest.raises(ValueError, match="state column"):
        pregel(
            df,
            df.select(F.col("src").alias("v_id")),
            {"m": F.lit(1)},
            {"s": F.sum("m")},
            {},
        )
