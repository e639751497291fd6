"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository, in one driver
process at ``local[4]``. Everything it writes goes under ``.perfbench/``
in that checkout. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
Lines before it are a human-readable report; ``--trace 1`` adds the
per-layer table. See ``perfbench/README.md`` for the metrics and traps.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from perfbench.tracing import (  # noqa: E402
    SPARK_COUNTERS,
    SPARK_LAYERS,
    NullTracer,
    RssSampler,
    Tracer,
    median,
)

# name -> (unit, better); the order is the order of BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "pagerank_s": ("s", "lower"),
    "superstep_edges_per_s": ("1/s", "higher"),
    "cc_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_COUNTER_UNITS = {
    "s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "failed_tasks": ("count", "lower"),
    "shuffle_read_bytes": ("B", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "task_skew": ("ratio", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "synth.s": ("s", "lower"),
    "synth.turns": ("count", "higher"),
    "sources.bytes_read": ("B", "lower"),
    "sources.bytes_written": ("B", "lower"),
    **{
        f"{layer}.{c}": _COUNTER_UNITS[c]
        for layer in SPARK_LAYERS
        for c in SPARK_COUNTERS
    },
    "edges.turns_per_s": ("1/s", "higher"),
    "edges.turns_in": ("count", "higher"),
    "edges.rows_out": ("count", "higher"),
    "edges.invariant_mismatches": ("count", "lower"),
    "pagerank.setup_s": ("s", "lower"),
    "pagerank.superstep_s.p50": ("s", "lower"),
    "pagerank.superstep_s.max": ("s", "lower"),
    "pagerank.supersteps": ("count", "lower"),
    "pagerank.salted": ("bool", "lower"),
    "components.rounds": ("count", "lower"),
    "lpa.rounds": ("count", "lower"),
    "triangles.total": ("count", "higher"),
    "checkpoint.superstep_s": ("s", "lower"),
    "checkpoint.resume_s": ("s", "lower"),
    "checkpoint.commits": ("count", "lower"),
    "checkpoint.bytes_written": ("B", "lower"),
    "checkpoint.latest_s": ("s", "lower"),
    "checkpoint.redone_supersteps": ("count", "lower"),
    "loopconf.partitions": ("count", "higher"),
    "loopconf.rows_per_task": ("rows", "lower"),
    "run.ops_failed_ratio": ("ratio", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.self_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.wall_gap_ratio": ("ratio", "lower"),
    "trace.extra_jobs": ("count", "lower"),
}


def summary(xs: list[float]) -> str:
    """Median plus the highest percentile with ten samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    med = statistics.median(xs)
    if n >= 20:
        pct = math.floor(100 * (n - 10) / n)
        tail = f"p{pct}={xs[math.ceil(pct / 100 * n) - 1]:.4g}"
    else:
        tail = f"max={xs[-1]:.4g}"
    return f"median={med:.4g} {tail} n={n}"


def _median_dict(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: median(d[k] for d in dicts if k in d) for k in keys}


def _times(passes: list[dict], key: str) -> list[float]:
    """Every sample of one timing over the passes."""
    return [t for p in passes for t in p["times"].get(key, [])]


def end_to_end(res: dict, session_s: float, rss_mb: float) -> tuple[dict, list[str]]:
    wl = res["workload"]
    reps = res["reps"]
    passes = res["passes"]
    rep_s = [r["synth_s"] + r["extract_s"] for r in reps]
    steps = [s for p in passes for s in p["superstep_s"]]
    extract_s = [s for p in passes for s in p["extract_s"]]
    samples = {
        "setup_s": None,
        "wall_s": _times(passes, "wall_s"),
        "pagerank_s": _times(passes, "pagerank_s"),
        "superstep_edges_per_s": [wl.inputs.n_edges / s for s in steps],
        "cc_s": _times(passes, "cc_s"),
        "peak_rss_mb": None,
    }
    metrics = {
        "setup_s": session_s + median(rep_s) + res["warmup_s"],
        "wall_s": median(samples["wall_s"]),
        "pagerank_s": median(samples["pagerank_s"]),
        "superstep_edges_per_s": wl.inputs.n_edges / median(steps),
        "cc_s": median(samples["cc_s"]),
        "peak_rss_mb": rss_mb,
    }
    lines = [
        f"setup: session {session_s:.3f}s, tables {summary(rep_s)}, "
        f"warm-up pass {res['warmup_s']:.3f}s; untimed: "
        + ", ".join(f"{k} {v:.3f}s" for k, v in res["phases"].items())
    ]
    for k, v in metrics.items():
        extra = f"  [{summary(samples[k])}]" if samples[k] else ""
        lines.append(f"{k:<24} {v:>14.6g} {END_TO_END[k][0]:<6}{extra}")
    for k in ("lpa_s", "triangles_s", "resume_s"):
        xs = _times(passes, k)
        if xs:
            lines.append(f"{k:<24} {median(xs):>14.6g} s     [{summary(xs)}]")
    rates = [wl.inputs.turns / s for s in extract_s]
    lines.append(f"{'extract_turns_per_s':<24} {median(rates):>14.6g} 1/s   [{summary(rates)}]")
    return metrics, lines


def per_layer(res: dict, tracer, session_s: float) -> tuple[dict, list[str]]:
    wl = res["workload"]
    passes = res["passes"]
    counts = res["counts"]
    names = PER_LAYER
    out = {k: 0.0 for k in names}

    per_pass = []
    for p in passes:
        m = {}
        for layer in SPARK_LAYERS:
            m |= tracer.layer_metrics(layer, p["spans"])
        # per extraction, like extract_turns_per_s
        for k in [k for k in m if k.startswith("edges.") and k != "edges.task_skew"]:
            m[k] /= len(p["extract_s"])
        _, st = tracer.stage_sums([s for s in p["spans"] if s.layer == "edges"])
        m["edges.turns_per_s"] = wl.inputs.turns / median(p["extract_s"])
        m["edges.turns_in"] = st.input_records / len(p["extract_s"])
        m["edges.rows_out"] = st.output_records / len(p["extract_s"])
        _, st = tracer.stage_sums(p["spans"])
        m["sources.bytes_read"] = st.input_bytes
        m["sources.bytes_written"] = st.output_bytes
        m |= p["layer"]
        (wall,) = p["times"]["wall_s"]
        (base_wall,) = res["baseline"]["times"]["wall_s"]
        m["trace.wall_s"] = wall
        m["trace.self_s"] = p["trace_s"]
        m["trace.overhead_ratio"] = p["trace_s"] / wall
        m["trace.extra_jobs"] = p["jobs"] - res["baseline"]["jobs"]
        m["trace.wall_gap_ratio"] = wall / base_wall - 1.0
        per_pass.append(m)
    out |= _median_dict(per_pass)

    out["session.start_s"] = session_s
    out["synth.s"] = median(r["synth_s"] for r in res["reps"])
    out["synth.turns"] = wl.inputs.turns
    out |= wl.loopconf()
    out |= res["check_metrics"]
    out["run.ops_failed_ratio"] = counts.failed / max(counts.attempted, 1)
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the list: {sorted(unknown)}")

    cols = ("s", "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "task_skew")
    lines = [
        "per-layer (set-up: session, synth; per timed pass: the rest, edges per extraction)",
        f"{'layer':<11}" + "".join(f"{c:>20}" for c in cols),
    ]
    for layer in SPARK_LAYERS:
        lines.append(
            f"{layer:<11}" + "".join(f"{out[f'{layer}.{c}']:>20.6g}" for c in cols)
        )
    for k in names:
        if not any(k == f"{layer}.{c}" for layer in SPARK_LAYERS for c in cols):
            lines.append(f"  {k:<32} {out[k]:>16.6g} {names[k][0]}")
    return out, lines


def _stop(spark, rss) -> None:
    """Stop the session, the gateway JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    pids = rss.pids()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--convs", type=int, default=None, help="override the input size")
    args = ap.parse_args(argv)

    if not (REPO / "cminer_spark" / "__init__.py").is_file():
        print(f"perfbench: no cminer_spark package under {REPO}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    base = REPO / ".perfbench"
    workdir = base / "work" / run_id
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers must import the engine; temp files stay in the
    # checkout, and no JVM writes its perf-data file to the system temp dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = str(tmp)

    from cminer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master="local[4]",
        extra_conf={
            # A pre-touched heap keeps heap growth out of the timed
            # supersteps and out of peak_rss_mb's run-to-run spread.
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(workdir / "local"),
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
            ),
        },
    )
    session_s = time.perf_counter() - t0
    rss = RssSampler(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    tracer = Tracer(spark, args.workload, run_id) if args.trace else NullTracer()

    code = 0
    try:
        res = workloads.run(
            spark, args.workload, args.seed, args.seconds, tracer, str(workdir),
            on_step=rss.sample, n_convs=args.convs,
        )
        rss.sample()
        counts = res["counts"]
        if args.trace:
            metrics, lines = per_layer(res, tracer, session_s)
            tracer.write(str(base / "traces" / f"{run_id}.json"))
        else:
            metrics, lines = end_to_end(res, session_s, rss.peak_mb())
        names = PER_LAYER if args.trace else END_TO_END
        wl = res["workload"]
        print(f"workload {args.workload} seed {args.seed}: {wl.inputs.convs} conversations, "
              f"{wl.inputs.turns} turns, {wl.inputs.n_edges} edges, "
              f"{len(res['passes'])} timed pass(es)")
        print("\n".join(lines))
        for f in counts.failures:
            print(f"FAILED {f}")
        result = {
            "correct": counts.failed == 0,
            "attempted": counts.attempted,
            "failed": counts.failed,
            "metrics": {k: {"value": metrics[k], "unit": names[k][0]} for k in names},
        }
    except Exception:
        traceback.print_exc()
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        code = 1
    finally:
        _stop(spark, rss)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
