"""Per-query isolation bench for the optimization round (guide §1.4).

``bench.py`` is FROZEN for measurement; this file carries the extra
instrumentation the optimization work needs:

* run a single bench entry (same inputs, same call as bench.py) with
  per-pass wall times and the Spark job count it costs;
* dump ``.explain("formatted")`` for the representative plan(s) of
  each entry into ``<plans-dir>/<name>_<frame>_<tag>.txt``.

Usage::

    python bench_extra.py <entry> [more entries...] [--passes N]
    python bench_extra.py <entry> [more entries...] \
        --explain-tag before|after --plans-dir DIR      # plan dump only
    python bench_extra.py --list

Environment mirrors bench.py:

* ``SPARK_GRAFT_SF_DIR`` — the input tables (default sf0.1);
* ``SPARK_GRAFT_CPUS`` — ``local[N]`` cores (default 32);
* ``CMINER_DRIVER_MEM`` — driver heap maximum (default 48g);
* ``BENCH_XMS`` — driver heap minimum, pre-touched at start (default
  16g); it must fit in physical memory, so a small host needs e.g.
  ``SPARK_GRAFT_CPUS=4 CMINER_DRIVER_MEM=3g BENCH_XMS=2g``.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from pyspark.sql import functions as F  # noqa: E402

from cminer_spark import gate, get_spark  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """Lazily-built shared inputs, mirroring bench.py exactly."""

    def __init__(self, spark, sf_dir: str, sf: float):
        self.spark = spark
        self.sf_dir = sf_dir
        self.sf = sf
        self._edges = None
        self._t = None
        self._synth_edges = None

    @property
    def edges(self):
        if self._edges is None:
            self._edges = gate.gate_edges_df(self.spark, self.sf_dir).persist()
            n = self._edges.count()
            print(f"[ctx] events edges: {n}", file=sys.stderr)
        return self._edges

    @property
    def t(self):
        if self._t is None:
            from cminer_spark.synth import synth_transcripts

            n_convs = int(100_000 * self.sf * 10)
            self._t = synth_transcripts(
                self.spark, n_convs=n_convs, seed=42
            ).persist()
            n = self._t.count()
            print(f"[ctx] synth turns: {n}", file=sys.stderr)
        return self._t

    @property
    def synth_edges(self):
        if self._synth_edges is None:
            from cminer_spark.operators import extract_edges

            self._synth_edges = extract_edges(self.t).persist()
            n = self._synth_edges.count()
            print(f"[ctx] synth edges: {n}", file=sys.stderr)
        return self._synth_edges

    @property
    def docs(self):
        return self.t.select(
            F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
        )


# ----------------------------------------------------------------------
# entries: name -> (fn(ctx) -> per-pass callable)
# ----------------------------------------------------------------------

def e_pagerank_events(ctx):
    from cminer_spark.operators import pagerank

    def run():
        ranks, info = pagerank(ctx.edges, tol=1e-6, max_iter=60)
        ranks.count()
        print(
            f"  setup={info.setup_sec}s steps={info.superstep_secs}",
            file=sys.stderr,
        )
        return info

    return run


def e_cc_events(ctx):
    from cminer_spark.operators import connected_components

    return lambda: connected_components(ctx.edges)[0].count()


def e_lpa4_events(ctx):
    from cminer_spark.operators import label_propagation

    return lambda: label_propagation(
        ctx.edges, max_rounds=4, stop_when_stable=False
    )[0].count()


def e_triangles_events(ctx):
    from cminer_spark.operators import triangle_counts

    return lambda: triangle_counts(ctx.edges)[0].count()


def e_anf_sketch_events(ctx):
    from cminer_spark.operators.anf import anf_sketch

    return lambda: anf_sketch(ctx.edges, max_h=6, k=16, seed=42).count()


def e_mis_events(ctx):
    from cminer_spark.operators import maximal_independent_set

    def run():
        st, minfo = maximal_independent_set(ctx.edges, max_rounds=30)
        st.count()
        return minfo.rounds

    return run


def e_greedy_color_events(ctx):
    from cminer_spark.operators import greedy_coloring

    def run():
        st, cinfo = greedy_coloring(ctx.edges, max_rounds=40)
        n = st.agg(F.countDistinct("color")).collect()[0][0]
        return (cinfo.rounds, n)

    return run


def _vertex_ids_df(ctx, rows):
    """A ``(v_id)`` frame of the collected ``rows``, built once so the
    timed calls run no seed-selection jobs."""
    return ctx.spark.createDataFrame([(int(r[0]),) for r in rows], "v_id long")


def e_sssp_events(ctx):
    from cminer_spark.operators.paths import shortest_paths

    e = ctx.edges
    ids = e.select(F.col("src").alias("v")).union(e.select("dst")).distinct()
    seeds = _vertex_ids_df(ctx, ids.orderBy("v").limit(2).collect())

    def run():
        dists, info = shortest_paths(e, seeds, directed=False)
        dists.count()
        return info.rounds

    return run


def e_closeness_landmarks_events(ctx):
    from cminer_spark.operators.paths import harmonic_closeness

    e = ctx.edges
    hubs = e.where(F.col("type") == "invokes").select("dst").distinct()
    landmarks = _vertex_ids_df(ctx, hubs.collect())

    def run():
        cl, info = harmonic_closeness(e, landmarks, directed=False)
        cl.count()
        return info.rounds

    return run


def _power_iteration(run):
    """A fixed-k power iteration entry: 12 supersteps, result counted
    (no info field is read, so the entry runs on older trees too)."""
    return lambda: run(max_iter=12, tol=0.0)[0].count()


def e_katz_events(ctx):
    from cminer_spark.operators import katz

    return _power_iteration(
        lambda **kw: katz(ctx.edges, alpha=gate.KATZ_ALPHA, **kw)
    )


def e_eigen_events(ctx):
    from cminer_spark.operators import eigenvector_centrality

    return _power_iteration(lambda **kw: eigenvector_centrality(ctx.edges, **kw))


def e_hits_events(ctx):
    from cminer_spark.operators import hits

    return _power_iteration(lambda **kw: hits(ctx.edges, **kw))


def e_feature_prop_events(ctx):
    from cminer_spark.operators import propagate_features

    edges = ctx.edges
    feats = (
        edges.select(F.col("src").alias("v_id"))
        .union(edges.select(F.col("dst").alias("v_id")))
        .distinct()
        .select(
            "v_id",
            F.array(
                *[
                    ((F.col("v_id") % F.lit(7 + p)) + F.lit(1)).cast("double")
                    for p in range(8)
                ]
            ).alias("emb"),
        )
    )
    return lambda: propagate_features(edges, feats, rounds=2).count()


def e_topk_cap_events(ctx):
    from cminer_spark.operators import topk_out_edges

    rev = ctx.edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return lambda: topk_out_edges(rev, k=8, weight_col=None).count()


def e_edge_extract_synth(ctx):
    from cminer_spark.operators import extract_edges

    t = ctx.t

    def run():
        e = extract_edges(t).persist()
        n = e.count()
        e.unpersist()
        return n

    return run


def e_edge_extract_sql_synth(ctx):
    from cminer_spark.operators import extract_edges_sql

    return lambda: extract_edges_sql(ctx.t).count()


def e_pagerank8_synth(ctx):
    from cminer_spark.operators import pagerank

    def run():
        _r, info = pagerank(ctx.synth_edges, tol=0.0, max_iter=8)
        print(
            f"  setup={info.setup_sec}s steps={info.superstep_secs}",
            file=sys.stderr,
        )
        return info

    return run


def e_pagerank_durable_synth(ctx):
    import tempfile

    from cminer_spark.operators import pagerank
    from cminer_spark.plans import SuperstepCheckpoint

    def run():
        with tempfile.TemporaryDirectory(prefix="cminer_pr_ckpt_") as d:
            _r, info = pagerank(
                ctx.synth_edges,
                tol=0.0,
                max_iter=8,
                checkpoint=SuperstepCheckpoint(ctx.spark, d),
            )
        print(
            f"  setup={info.setup_sec}s steps={info.superstep_secs}",
            file=sys.stderr,
        )
        return info

    return run


def e_cc_full_synth(ctx):
    from cminer_spark.operators import connected_components

    return lambda: connected_components(
        ctx.synth_edges.select("src", "dst")
    )[0].count()


def _inc_setup(ctx):
    from cminer_spark.operators import connected_components, extract_edges

    t = ctx.t
    conv_h = F.pmod(F.xxhash64("conv_id"), F.lit(16))
    prev_t = t.where((conv_h != 0) | (F.col("turn_idx") < 3))
    prev_edges_inc = extract_edges(prev_t).persist()
    prev_edges_inc.count()
    changed = t.where(conv_h == 0).select("conv_id").distinct()
    prev_cc, _ = connected_components(prev_edges_inc.select("src", "dst"))
    prev_cc = prev_cc.persist()
    prev_cc.count()
    delta_e = (
        ctx.synth_edges.join(
            F.broadcast(changed),
            F.get(F.split("src_key", "#", 2), 0) == changed["conv_id"],
        )
        .select("src", "dst")
        .persist()
    )
    delta_e.count()
    return prev_edges_inc, changed, prev_cc, delta_e


def e_edge_extract_delta_synth(ctx):
    from cminer_spark.operators import extract_edges_delta

    prev_edges_inc, changed, _cc, _d = _inc_setup(ctx)
    return lambda: extract_edges_delta(ctx.t, prev_edges_inc, changed).count()


def e_cc_incremental_synth(ctx):
    from cminer_spark.operators import incremental_components

    _p, _c, prev_cc, delta_e = _inc_setup(ctx)
    return lambda: incremental_components(prev_cc, delta_e)[0].count()


def e_jaccard_capped_synth(ctx):
    from cminer_spark.operators.graph import jaccard_similarity

    return lambda: jaccard_similarity(
        ctx.synth_edges, max_pivot_degree=64
    ).count()


def e_mine_150graph_db(ctx):
    def run():
        import random

        from cminer_spark.operators.mining import mine_frequent_patterns
        from cminer_spark.sources import read_data_db

        rng = random.Random(7)
        blocks = []
        labels = ["a", "b", "c", "d"]
        for g in range(150):
            blocks.append(f"t # {g} g{g}")
            n = rng.randint(8, 14)
            for i in range(n):
                blocks.append(f"v {i} {rng.choice(labels)}")
            for _ in range(rng.randint(10, 18)):
                s, d = rng.randrange(n), rng.randrange(n)
                if s != d:
                    blocks.append(f"e {s} {d} {rng.choice('xy')}")
        path = "/tmp/cminer_bench_db.data"
        with open(path, "w") as f:
            f.write("\n".join(blocks) + "\n")
        v, e = read_data_db(ctx.spark, path)
        mined = mine_frequent_patterns(
            v, e, min_support=0.3, max_edges=2, max_nodes=3
        )
        return len(mined)

    return run


def e_minhash_lsh_turns(ctx):
    from cminer_spark.pipeline import minhash_lsh_candidates

    docs = ctx.docs
    return lambda: minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, hash_family="xxhash64"
    ).count()


def e_redact_pii_turns(ctx):
    from cminer_spark.pipeline import redact_pii

    docs = ctx.docs
    return lambda: int(
        redact_pii(docs)
        .agg(F.sum(F.length("text_redacted") + F.col("n_pii")).alias("s"))
        .collect()[0]["s"]
    )


def e_line_dedup_convs(ctx):
    from cminer_spark.pipeline import line_dedup

    t = ctx.t
    headers = F.array(
        *[F.lit(f"standard greeting header variant {i}") for i in range(5)]
    )
    conv_docs = (
        t.select(
            F.col("conv_id"),
            F.struct(F.col("turn_idx"), F.col("text")).alias("s"),
        )
        .groupBy("conv_id")
        .agg(
            F.concat_ws(
                "\n",
                F.element_at(
                    headers,
                    F.pmod(F.xxhash64("conv_id"), F.lit(5)).cast("int") + 1,
                ),
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.sort_array(F.collect_list("s")), lambda x: x["text"]
                    ),
                ),
            ).alias("text")
        )
        .withColumn("doc_id", F.xxhash64("conv_id"))
        .persist()
    )
    conv_docs.count()
    return lambda: int(
        line_dedup(conv_docs)
        .agg(F.sum(F.col("n_lines") - F.col("n_lines_kept")).alias("r"))
        .collect()[0]["r"]
    )


def e_dedup_against_turns(ctx):
    from cminer_spark.pipeline import dedup_against

    docs = ctx.docs
    return lambda: dedup_against(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
        num_hashes=16,
        bands=4,
        hash_family="xxhash64",
        broadcast_delta=True,
    ).count()


def e_nb_classify_turns(ctx):
    from cminer_spark.pipeline import classify_corpus

    nb_docs = ctx.t.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
        "text",
        F.coalesce("role", F.lit("none")).alias("role"),
    )
    return lambda: classify_corpus(nb_docs, label_col="role").count()


def e_importance_weights_turns(ctx):
    from cminer_spark.pipeline import importance_weights

    docs = ctx.docs
    nb_docs = ctx.t.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
        "text",
        F.coalesce("role", F.lit("none")).alias("role"),
    )
    target = nb_docs.where(F.col("role") == "assistant").select(
        "doc_id", "text"
    )
    return lambda: importance_weights(docs, target, n_buckets=65536).count()


def e_bpe_train8_turns(ctx):
    from cminer_spark.pipeline import train_bpe

    docs = ctx.docs

    def run():
        merges, _ = train_bpe(docs, n_merges=8)
        return merges.count()

    return run


def e_ivf_ann_200k(ctx):
    from cminer_spark.pipeline import ivf_topk, pseudo_random_centroids

    n_vecs = int(200_000 * ctx.sf * 10)
    vecs = ctx.spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(1000))
                    / 500.0
                    - 1.0
                ).cast("float")
                for d in range(32)
            ]
        ).alias("embedding"),
    )
    return lambda: ivf_topk(
        vecs,
        [0, 1, 2, 3, 4],
        k=10,
        centroids=pseudo_random_centroids(32, 16),
        n_probe=2,
    ).count()


ENTRIES = {
    name[len("e_"):]: fn
    for name, fn in sorted(globals().items())
    if name.startswith("e_")
}


# ----------------------------------------------------------------------
# representative plans for the explain dump
# ----------------------------------------------------------------------

def plan_frames(ctx, name):
    """Return {label: DataFrame} whose explain output represents the
    entry's hot plan(s). Loop operators expose one inner round; the
    special key ``_conf_rows`` asks the caller to explain under the
    loop-scoped config (plans/loopconf.py), the way the operator
    actually executes the round, and ``_persisted`` lists the frames
    the caller unpersists once the plans are written."""
    from cminer_spark.plans.checkpoint import truncate_lineage

    if name == "pagerank_events":
        # one superstep: adjacency x state join + dst aggregate
        edges = ctx.edges
        pairs = edges.select("src", "dst", F.col("weight").alias("w"))
        from pyspark.sql import Window

        out_w = F.sum("w").over(Window.partitionBy("src"))
        adj = (
            pairs.repartition(1, "src")
            .withColumn("p", F.col("w") / out_w)
            .select("src", "dst", "p")
            .persist()
        )
        verts = (
            pairs.select(F.col("src").alias("v_id"))
            .union(pairs.select(F.col("dst").alias("v_id")))
            .distinct()
        )
        state = truncate_lineage(
            verts.select("v_id", F.lit(0.001).alias("rank"))
        )
        joined = adj.join(
            state.select(F.col("v_id").alias("src"), "rank").hint(
                "shuffle_hash"
            ),
            "src",
        )
        sums = joined.select(
            "dst", (F.col("p") * F.col("rank")).alias("m")
        ).groupBy("dst").agg(F.sum("m").alias("in_mass"))
        return {"superstep_sums": sums, "_conf_rows": ctx.edges.count(),
                "_persisted": [adj]}
    if name == "cc_events":
        from cminer_spark.operators.components import (
            _large_star,
            _small_star,
        )

        e = (
            ctx.edges.where(F.col("src") != F.col("dst"))
            .select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .distinct()
        )
        e = truncate_lineage(e)
        return {"round": _small_star(_large_star(e)), "_conf_rows": ctx.edges.count()}
    if name == "lpa4_events":
        from cminer_spark.operators.graph import undirected_adjacency
        from cminer_spark.operators.lpa import _lpa_round

        edges = ctx.edges
        sym = undirected_adjacency(edges).persist()
        all_v = (
            edges.select(F.col("src").alias("v_id"))
            .union(edges.select(F.col("dst").alias("v_id")))
            .distinct()
        )
        labels = truncate_lineage(
            all_v.select("v_id", F.col("v_id").alias("label"))
        )
        return {"round": _lpa_round(sym, labels), "_conf_rows": sym.count(),
                "_persisted": [sym]}
    if name == "triangles_events":
        from cminer_spark.operators.triangles import triangle_stats

        return {"stats": None, "_call": lambda: triangle_stats(ctx.edges)}
    if name == "anf_sketch_events":
        # one FM-sketch hop: adjacency x state shuffle_hash join +
        # single bit_or aggregate (bench call: max_h=6, k=16, seed=42)
        from cminer_spark.operators.anf import _init_state, _mask_cols, _sym

        k = 16
        sym = _sym(ctx.edges, directed=False).persist()
        cols = _mask_cols(k)
        state = truncate_lineage(_init_state(sym, k, seed=42))
        msgs = sym.join(
            state.withColumnRenamed("v_id", "u").hint("shuffle_hash"), "u"
        ).select(F.col("v").alias("v_id"), *cols)
        hop = (
            state.unionByName(msgs)
            .groupBy("v_id")
            .agg(*[F.bit_or(c).alias(c) for c in cols])
        )
        return {"hop": hop, "_conf_rows": sym.count(), "_persisted": [sym]}
    if name == "mis_events":
        # one Luby round: frontier-filtered adjacency join, min-priority
        # aggregate, winner/out status fold
        from cminer_spark.operators.graph import undirected_adjacency
        from cminer_spark.operators.mis import UNDECIDED, _luby_round

        sym = undirected_adjacency(ctx.edges).persist()
        all_v = (
            ctx.edges.select(F.col("src").alias("v_id"))
            .union(ctx.edges.select(F.col("dst").alias("v_id")))
            .distinct()
        )
        st = truncate_lineage(
            all_v.select("v_id", F.lit(UNDECIDED).alias("status"))
        )
        return {"round": _luby_round(sym, st), "_conf_rows": sym.count(),
                "_persisted": [sym]}
    if name == "greedy_color_events":
        # one Jones-Plassmann round: adjacency x state x uncolored
        # frontier, combinable (min uncolored pri, used-color set) agg
        from cminer_spark.operators.coloring import UNCOLORED, _jp_round, _pri
        from cminer_spark.operators.graph import undirected_adjacency

        sym = undirected_adjacency(ctx.edges).persist()
        all_v = (
            ctx.edges.select(F.col("src").alias("v_id"))
            .union(ctx.edges.select(F.col("dst").alias("v_id")))
        )
        deg = sym.groupBy(F.col("v").alias("v_id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        st = truncate_lineage(
            all_v.distinct()
            .join(deg.hint("shuffle_hash"), "v_id", "left")
            .select(
                "v_id",
                F.lit(UNCOLORED).cast("long").alias("color"),
                _pri(F.col("v_id"), F.col("deg")).alias("pri"),
            )
        )
        return {"round": _jp_round(sym, st, 1), "_conf_rows": sym.count(),
                "_persisted": [sym]}
    if name == "feature_prop_events":
        # one damped-averaging round over the exploded (v_id, pos, val)
        # state (bench call: 8-dim features, rounds=2, alpha=0.5).
        # No _conf_rows: propagate_features runs under the session conf.
        from cminer_spark.operators.graph import undirected_adjacency
        from cminer_spark.operators.propagation import _prop_round

        sym = truncate_lineage(undirected_adjacency(ctx.edges))
        feats = (
            ctx.edges.select(F.col("src").alias("v_id"))
            .union(ctx.edges.select(F.col("dst").alias("v_id")))
            .distinct()
            .select(
                "v_id",
                F.array(
                    *[
                        ((F.col("v_id") % F.lit(7 + p)) + F.lit(1)).cast(
                            "double"
                        )
                        for p in range(8)
                    ]
                ).alias("emb"),
            )
        )
        st = truncate_lineage(
            feats.select(
                "v_id", F.posexplode("emb").alias("pos", "val")
            ).select(
                "v_id", "pos", F.col("val").cast("double").alias("val")
            )
        )
        return {"round": _prop_round(sym, st, alpha=0.5)}
    if name == "edge_extract_synth":
        from cminer_spark.operators import extract_edges

        return {"extract": extract_edges(ctx.t)}
    if name == "jaccard_capped_synth":
        from cminer_spark.operators.graph import jaccard_similarity

        return {
            "jaccard": jaccard_similarity(
                ctx.synth_edges, max_pivot_degree=64
            )
        }
    if name == "minhash_lsh_turns":
        from cminer_spark.pipeline import minhash_lsh_candidates

        return {
            "minhash": minhash_lsh_candidates(
                ctx.docs, num_hashes=16, bands=4, hash_family="xxhash64"
            )
        }
    if name == "nb_classify_turns":
        from cminer_spark.pipeline import classify_corpus

        nb_docs = ctx.t.select(
            F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
            "text",
            F.coalesce("role", F.lit("none")).alias("role"),
        )
        return {"nb": classify_corpus(nb_docs, label_col="role")}
    if name == "ivf_ann_200k":
        from cminer_spark.pipeline import ivf_topk, pseudo_random_centroids

        n_vecs = int(200_000 * ctx.sf * 10)
        vecs = ctx.spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (
                        F.pmod(
                            F.xxhash64(F.col("id"), F.lit(d)), F.lit(1000)
                        )
                        / 500.0
                        - 1.0
                    ).cast("float")
                    for d in range(32)
                ]
            ).alias("embedding"),
        )
        return {
            "ivf": ivf_topk(
                vecs,
                [0, 1, 2, 3, 4],
                k=10,
                centroids=pseudo_random_centroids(32, 16),
                n_probe=2,
            )
        }
    return {}


def _explain_frames(frames, name, explain_tag, plans_dir):
    import contextlib
    import io

    for label, df in frames.items():
        out = os.path.join(plans_dir, f"{name}_{label}_{explain_tag}.txt")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(out, "w") as f:
            f.write(f"== {name} :: {label} ==\n")
            f.write(buf.getvalue())
        print(f"wrote {out}", file=sys.stderr)


def _bytes(size: str) -> int:
    """A JVM memory size (``16g``, ``512m``, ``2048k``, bytes) in bytes."""
    scale = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    unit = size[-1:].lower()
    return int(size[:-1]) * scale[unit] if unit in scale else int(size)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    args = [a for a in sys.argv[1:]]
    if "--list" in args:
        print("\n".join(ENTRIES))
        return
    passes = 2
    if "--passes" in args:
        i = args.index("--passes")
        passes = int(args[i + 1])
        del args[i : i + 2]
    explain_tag = plans_dir = None
    if "--explain-tag" in args:
        i = args.index("--explain-tag")
        explain_tag = args[i + 1]
        del args[i : i + 2]
    if "--plans-dir" in args:
        i = args.index("--plans-dir")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    if explain_tag and not plans_dir:
        sys.exit("--explain-tag needs --plans-dir DIR")
    names = [a for a in args if not a.startswith("-")]

    os.environ.setdefault("CMINER_DRIVER_MEM", "48g")
    xms = os.environ.get("BENCH_XMS", "16g")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    if _bytes(xms) > phys:
        # the pre-touched heap cannot be mapped: the JVM would die at
        # start and leave an hs_err_pid*.log behind
        sys.exit(
            f"-Xms{xms} exceeds this host's {phys / (1 << 30):.1f} GiB of "
            "physical memory; set BENCH_XMS (and CMINER_DRIVER_MEM, "
            "SPARK_GRAFT_CPUS) to fit, e.g. SPARK_GRAFT_CPUS=4 "
            "CMINER_DRIVER_MEM=3g BENCH_XMS=2g"
        )
    spark = get_spark(
        "cminer-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Xms{xms} -XX:+AlwaysPreTouch"
            ),
        },
    )
    import __spark_entry__ as entrymod

    entrymod._ship_package(spark)
    ctx = Ctx(spark, sf_dir, sf)
    sc = spark.sparkContext

    results = {}
    for name in names:
        if name not in ENTRIES:
            print(f"unknown entry: {name}", file=sys.stderr)
            continue
        if explain_tag:
            os.makedirs(plans_dir, exist_ok=True)
            frames = plan_frames(ctx, name)
            call = frames.pop("_call", None)
            conf_rows = frames.pop("_conf_rows", None)
            persisted = frames.pop("_persisted", [])
            if call is not None:
                frames = {"stats": call()}
            import contextlib as _ctxlib

            from cminer_spark.plans.loopconf import superstep_conf

            # EXPLAIN_NO_LOOP_CONF=1 captures the same logical round
            # under the plain session conf (AQE on, session shuffle
            # partitions) — the pre-r6 execution shape for operators
            # whose only r6 change was the loop-scoped conf.
            no_conf = os.environ.get("EXPLAIN_NO_LOOP_CONF") == "1"
            conf_cm = (
                superstep_conf(spark, conf_rows)
                if conf_rows is not None and not no_conf
                else _ctxlib.nullcontext()
            )
            with conf_cm:
                _explain_frames(frames, name, explain_tag, plans_dir)
            for df in persisted:
                df.unpersist()
            continue
        run = ENTRIES[name](ctx)
        secs, jobs = [], []
        sc.setJobDescription(f"bench_extra:{name}")
        for p in range(passes):
            j0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            t0 = time.time()
            out = run()
            dt = round(time.time() - t0, 3)
            j1 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            secs.append(dt)
            jobs.append(j1 - j0)
            print(f"[extra] {name} pass{p}: {dt}s jobs={j1 - j0}",
                  file=sys.stderr, flush=True)
        sc.setJobDescription(None)
        results[name] = {"secs": secs, "min": min(secs), "jobs": jobs}
    print(json.dumps(results))


if __name__ == "__main__":
    main()
