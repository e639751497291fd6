"""spark-submit entry point.

    spark-submit --master <cluster> --py-files cminer_spark.zip \
        cminer_spark/__main__.py \
        --transcripts iceberg:warehouse.conv.transcripts \
        --algorithm pagerank --tol 1e-6 --max-iter 100 \
        --checkpoint-dir /mnt/shared/ck/run1 --output parquet:/out/ranks

Runs: transcripts → Arrow edge extraction → the chosen north-rule
algorithm with durable per-superstep checkpointing → output table.
Re-running with the same ``--checkpoint-dir`` resumes from the last
committed superstep (exact resume, tested).

Frequent-subgraph mining with the reference CLI's surface
(``/root/reference/src/CMiner/main.py:30-47``: ``db_file support -l
-u -m -o -p``):

    python -m cminer_spark mine graphs.data 0.5 -l 2 -u 4 \
        -o out_dir -p start_patterns.txt -m 1
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(name: str, master: str | None):
    """CLI session, library-friendly: ``getOrCreate`` joins an already
    active session (e.g. when ``main()`` is invoked in-process from a
    host application or test), in which case the CLI must NOT stop it
    on exit — only sessions this CLI itself created get stopped."""
    from pyspark.sql import SparkSession

    from cminer_spark import get_spark

    owned = (
        SparkSession.getActiveSession() is None
        and getattr(SparkSession, "_instantiatedSession", None) is None
    )
    return get_spark(name, master=master), owned


def _main_mine(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="cminer_spark mine")
    ap.add_argument("db_file", type=str, help="path to .data graph db")
    ap.add_argument("support", type=float, help="support (≤1 = fraction of |DB|)")
    ap.add_argument("-l", "--min_nodes", type=int, default=1)
    ap.add_argument("-u", "--max_nodes", type=int, default=4)
    ap.add_argument("-m", "--show_mappings", type=int, default=0)
    ap.add_argument("-o", "--output_path", type=str, default=None)
    ap.add_argument(
        "--stream_output",
        action="store_true",
        help="append each pattern block to output_path (a plain local "
        "file) AS IT IS EMITTED, like the reference's incremental "
        "writes (CMiner.py:503-516), instead of one batch write at the "
        "end (a text directory)",
    )
    ap.add_argument("-p", "--patterns_path", type=str, default=None)
    ap.add_argument("--max-edges", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from cminer_spark.operators.mining import mine_frequent_patterns, patterns_to_df
    from cminer_spark.sources import (
        parse_pattern_text,
        read_data_db,
        write_mappings_text,
        write_patterns_text,
    )

    spark, owned = _session("cminer-mine", args.master)
    v, e = read_data_db(spark, args.db_file)
    start = None
    if args.patterns_path:
        with open(args.patterns_path) as f:
            start = parse_pattern_text(f.read())
    support = args.support if args.support < 1 else int(args.support)
    if args.stream_output and not args.output_path:
        ap.error("--stream_output requires -o/--output_path")
    stream_f = None
    on_pattern = None
    if args.stream_output:
        from itertools import count

        from cminer_spark.operators.mining import pattern_block_text

        stream_f = open(args.output_path, "w")
        _ids = count()

        def on_pattern(mp):
            stream_f.write(pattern_block_text(mp, next(_ids)) + "\n")
            stream_f.flush()

    try:
        mined = mine_frequent_patterns(
            v,
            e,
            min_support=support,
            max_edges=args.max_edges
            if args.max_edges is not None
            else args.max_nodes * (args.max_nodes - 1),
            min_nodes=args.min_nodes,
            max_nodes=args.max_nodes,
            start_patterns=start,
            with_graph_counts=True,
            keep_embeddings=bool(args.show_mappings),
            on_pattern=on_pattern,
        )
    finally:
        if stream_f is not None:
            stream_f.close()
    df = patterns_to_df(spark, mined)
    if args.output_path:
        if not args.stream_output:  # stream mode already wrote the file
            write_patterns_text(df, args.output_path)
        if args.show_mappings:
            for i, mp in enumerate(mined):
                if mp.embeddings is not None:
                    write_mappings_text(
                        mp.embeddings, path=f"{args.output_path}_mappings/p{i}"
                    )
    else:
        for r in write_patterns_text(df).collect():
            print(r.value)
            print("-")
    print(json.dumps({"patterns": len(mined)}), file=sys.stderr)
    if owned:
        spark.stop()
    return 0


def _main_compact(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="cminer_spark compact")
    ap.add_argument("table", help="parquet table ref/path to compact")
    ap.add_argument("--target-file-mb", type=int, default=256)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from cminer_spark.sources.tables import compact_table

    spark, owned = _session("cminer-compact", args.master)
    stats = compact_table(spark, args.table, target_file_mb=args.target_file_mb)
    print(json.dumps(stats))
    if owned:
        spark.stop()
    return 0


def _main_pairs(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="cminer_spark pairs")
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--history", type=int, default=3)
    ap.add_argument("--target-role", default="assistant")
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from cminer_spark.pipeline.dialogs import build_training_pairs
    from cminer_spark.sources.tables import read_table, write_table

    spark, owned = _session("cminer-pairs", args.master)
    out = build_training_pairs(
        read_table(spark, args.transcripts),
        history=args.history,
        target_role=args.target_role,
    )
    write_table(out, args.output)
    print(json.dumps({"history": args.history, "role": args.target_role}))
    if owned:
        spark.stop()
    return 0


def _main_bpe_train(argv: list[str]) -> int:
    """Train BPE merges over a document table and write the merge
    table (merge_rank, left, right, merged, n) — the corpus reduces
    once to the word table, so this runs at ingest cost + n_merges
    vocab-sized rounds."""
    ap = argparse.ArgumentParser(prog="cminer_spark bpe-train")
    ap.add_argument("--docs", required=True, help="document table ref")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--merges", type=int, default=1000)
    ap.add_argument("--no-lowercase", action="store_true")
    ap.add_argument("--output", required=True, help="merge-table ref")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from cminer_spark.pipeline.bpe import train_bpe
    from cminer_spark.sources.tables import read_table, write_table

    spark, owned = _session("cminer-bpe", args.master)
    merges, info = train_bpe(
        read_table(spark, args.docs),
        n_merges=args.merges,
        text_col=args.text_col,
        lowercase=not args.no_lowercase,
    )
    write_table(merges, args.output)
    print(
        json.dumps(
            {
                "merges_trained": len(info.merges),
                "stopped_early": info.stopped_early,
            }
        )
    )
    if owned:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0] == "mine":
        return _main_mine(argv[1:])
    if argv and argv[0] == "compact":
        return _main_compact(argv[1:])
    if argv and argv[0] == "pairs":
        return _main_pairs(argv[1:])
    if argv and argv[0] == "bpe-train":
        return _main_bpe_train(argv[1:])
    ap = argparse.ArgumentParser(prog="cminer_spark")
    ap.add_argument("--transcripts", help="transcripts table ref (iceberg:/table:/parquet:)")
    ap.add_argument("--edges", help="pre-extracted edges table ref (skips extraction)")
    ap.add_argument(
        "--algorithm",
        choices=[
            "pagerank", "components", "lpa", "triangles", "katz", "louvain",
            "eigenvector", "mis", "coloring", "msf", "densest",
            "dyad-census", "topk-cap", "feature-prop", "graph-diff",
        ],
        default="pagerank",
    )
    ap.add_argument("--alpha", type=float, default=0.01, help="katz attenuation")
    ap.add_argument("--beta", type=float, default=1.0, help="katz base score")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--lpa-rounds", type=int, default=10)
    ap.add_argument("--master", default=None)
    # incremental-ingest surface: yesterday's artifacts in, today's out
    ap.add_argument(
        "--prev-edges",
        help="previous edge table ref: with --transcripts and "
        "--changed-convs, extraction runs incrementally "
        "(extract_edges_delta) instead of over the full corpus",
    )
    ap.add_argument(
        "--changed-convs",
        help="table ref with a conv_id column listing conversations "
        "that gained turns since --prev-edges was built",
    )
    ap.add_argument(
        "--init-ranks",
        help="prior (v_id, rank) table ref: pagerank warm start",
    )
    ap.add_argument(
        "--prev-labels",
        help="prior (v_id, component) table ref: components treats the "
        "input edge table as an ADD-ONLY DELTA and splices "
        "(incremental_components)",
    )
    ap.add_argument("--topk", type=int, default=8, help="topk-cap k")
    ap.add_argument(
        "--features",
        help="(v_id, emb array<double>) table ref for feature-prop",
    )
    ap.add_argument("--prop-rounds", type=int, default=2)
    ap.add_argument("--prop-alpha", type=float, default=0.5)
    args = ap.parse_args(argv)

    from cminer_spark.operators import (
        connected_components,
        extract_edges,
        extract_edges_delta,
        incremental_components,
        label_propagation,
        pagerank,
        triangle_counts,
    )
    from cminer_spark.plans import SuperstepCheckpoint
    from cminer_spark.sources.tables import read_table, write_table

    spark, owned = _session("cminer-run", args.master)
    # graph-diff consumes --prev-edges as the OLD snapshot, not as the
    # incremental-extraction base
    if args.transcripts and args.prev_edges and args.algorithm != "graph-diff":
        if not args.changed_convs:
            ap.error("--prev-edges needs --changed-convs (and --transcripts)")
        edges = extract_edges_delta(
            read_table(spark, args.transcripts),
            read_table(spark, args.prev_edges),
            read_table(spark, args.changed_convs),
        )
    elif args.edges:
        edges = read_table(spark, args.edges)
    elif args.transcripts:
        edges = extract_edges(read_table(spark, args.transcripts))
    else:
        ap.error("need --transcripts or --edges")

    ck = (
        SuperstepCheckpoint(spark, args.checkpoint_dir)
        if args.checkpoint_dir
        else None
    )
    meta: dict = {"algorithm": args.algorithm}
    if args.algorithm == "pagerank":
        out, info = pagerank(
            edges,
            damping=args.damping,
            tol=args.tol,
            max_iter=args.max_iter,
            checkpoint=ck,
            init_ranks=(
                read_table(spark, args.init_ranks)
                if args.init_ranks
                else None
            ),
        )
        meta.update(
            iterations=info.iterations,
            converged=info.converged,
            n_vertices=info.n_vertices,
            n_edges=info.n_edges,
            salted=info.salted,
        )
    elif args.algorithm == "components":
        if args.prev_labels:
            out, cinfo = incremental_components(
                read_table(spark, args.prev_labels), edges
            )
        else:
            out, cinfo = connected_components(edges, checkpoint=ck)
        meta.update(rounds=cinfo.rounds, n_components=cinfo.n_components)
    elif args.algorithm == "lpa":
        # --prev-labels warm-starts from a previous run's labels
        # (ingest-delta pattern: near-fixpoint init converges in a
        # round or two instead of from-scratch rounds)
        out, linfo = label_propagation(
            edges,
            max_rounds=args.lpa_rounds,
            checkpoint=ck,
            initial_labels=(
                read_table(spark, args.prev_labels)
                if args.prev_labels
                else None
            ),
        )
        meta.update(rounds=linfo.rounds, converged=linfo.converged)
    elif args.algorithm == "katz":
        from pyspark.sql import functions as F

        from cminer_spark.operators import katz

        out, kinfo = katz(
            edges,
            alpha=args.alpha,
            beta=args.beta,
            tol=args.tol,
            max_iter=args.max_iter,
            init_scores=(
                read_table(spark, args.init_ranks).select(
                    "v_id", F.col("katz")
                )
                if args.init_ranks
                else None
            ),
        )
        meta.update(iterations=kinfo.rounds, converged=kinfo.converged)
    elif args.algorithm == "eigenvector":
        from cminer_spark.operators import eigenvector_centrality

        out, einfo = eigenvector_centrality(
            edges, max_iter=args.max_iter, tol=args.tol
        )
        meta.update(
            iterations=einfo.rounds,
            converged=einfo.converged,
            eigenvalue=einfo.history[-1] if einfo.history else None,
        )
    elif args.algorithm == "mis":
        from cminer_spark.operators import maximal_independent_set

        out, minfo = maximal_independent_set(
            edges, max_rounds=args.max_iter, checkpoint=ck
        )
        meta.update(rounds=minfo.rounds, converged=minfo.converged)
    elif args.algorithm == "coloring":
        from cminer_spark.operators import greedy_coloring

        out, cinfo2 = greedy_coloring(edges, max_rounds=args.max_iter)
        meta.update(rounds=cinfo2.rounds, converged=cinfo2.converged)
    elif args.algorithm == "msf":
        from cminer_spark.operators import boruvka_msf

        out, finfo = boruvka_msf(edges)
        meta.update(rounds=finfo.rounds, converged=finfo.converged)
    elif args.algorithm == "densest":
        from cminer_spark.operators import densest_subgraph

        out, dinfo = densest_subgraph(edges, max_rounds=args.max_iter)
        meta.update(
            rounds=dinfo.rounds,
            best_round=dinfo.best_round,
            best_density=dinfo.best_density,
        )
    elif args.algorithm == "louvain":
        from cminer_spark.operators import louvain

        out, vinfo = louvain(edges)
        meta.update(
            levels=vinfo.levels,
            n_communities=vinfo.n_communities,
            modularity=vinfo.modularity,
        )
    elif args.algorithm == "dyad-census":
        from cminer_spark.operators import dyad_census

        out = dyad_census(edges)
    elif args.algorithm == "graph-diff":
        from cminer_spark.operators import graph_diff

        if not args.prev_edges:
            ap.error("graph-diff needs --prev-edges (the old snapshot)")
        out = graph_diff(read_table(spark, args.prev_edges), edges)
    elif args.algorithm == "topk-cap":
        from cminer_spark.operators import topk_out_edges

        out = topk_out_edges(edges, k=args.topk)
    elif args.algorithm == "feature-prop":
        from cminer_spark.operators import propagate_features

        if not args.features:
            ap.error("feature-prop needs --features")
        out = propagate_features(
            edges,
            read_table(spark, args.features),
            rounds=args.prop_rounds,
            alpha=args.prop_alpha,
            as_array=True,
        )
    else:
        out, total = triangle_counts(edges)
        meta.update(total_triangles=total)

    write_table(out, args.output)
    print(json.dumps(meta))
    if owned:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
