"""The benchmark's workloads: set-up, timed passes and correctness checks.

A run of a workload is:

1. **Set-up** (reported as ``setup_s``): the session start, then
   ``BUILD_REPS`` repetitions of generating the transcripts table from
   the seed and turning it into the edge table (the median repetition
   counts), then one warm-up pass. First passes run 1.2-2x slower than
   later ones, so the warm-up keeps JIT and codegen out of the timed
   numbers while set-up still shows its cost. The warm-up runs each
   operator of the timed pass once, with the same superstep counts and
   without the extractions: a warm-up with fewer supersteps left the JIT
   compiling through the pass after it.
2. **Timed passes**, repeated until ``--seconds`` have elapsed (at least
   one). A pass runs the workload's operators on the edge table built in
   set-up, and at its start and middle (``EXTRACT``) extracts the edge
   table again from the transcripts table, into a side table the
   operators do not read. PageRank's supersteps are sampled at the start
   and in the middle of the pass too: the host's speed swings by 20% from
   one second to the next, so samples from one 2-second call spread
   widely from run to run. The end-to-end metrics are medians over the
   passes and over the supersteps inside them.
3. **Checks** against single-node oracles, outside the timed section.

The engine only ever sees the generated tables: the transcripts table
and the edge table, both parquet under the run's work directory.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from cminer_spark.operators.components import connected_components
from cminer_spark.operators.edges import extract_edges, passthrough_turns
from cminer_spark.operators.lpa import label_propagation
from cminer_spark.operators.pagerank import pagerank
from cminer_spark.operators.triangles import triangle_counts
from cminer_spark.plans.checkpoint import SuperstepCheckpoint
from cminer_spark.plans.loopconf import iteration_partitions
from cminer_spark.sources.tables import read_table, write_table
from cminer_spark.synth.transcripts import synth_transcripts

from perfbench import oracles
from perfbench.tracing import NullTracer, median, total_jobs

BUILD_REPS = 3
EXTRACT = ("extract", None)  # marks an edge extraction in a pass's operator list
PAGERANK_K = 8  # fixed-k supersteps: tol=1e-6 stops after 1-3 steps on synth graphs
LPA_ROUNDS = 4
CC_STOP_ROUND = 3  # durable CC is interrupted after this round, then resumed
PR_RTOL = 1e-6


@dataclass
class Counts:
    """Layer calls and checks attempted, and how many of them failed."""

    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")


class TimedCheckpoint(SuperstepCheckpoint):
    """A durable checkpoint whose ``save``/``latest`` calls are spans."""

    def __init__(self, spark, directory: str, tracer, counts: Counts):
        super().__init__(spark, directory)
        self._tracer = tracer
        self._counts = counts
        self.latest_s: list[float] = []

    def save(self, i, df, metrics):
        self._counts.attempted += 1
        with self._tracer.span("checkpoint", f"checkpoint.save:{i}"):
            return super().save(i, df, metrics)

    def latest(self):
        self._counts.attempted += 1
        t0 = time.perf_counter()
        with self._tracer.span("checkpoint", "checkpoint.latest"):
            out = super().latest()
        self.latest_s.append(time.perf_counter() - t0)
        return out


@dataclass
class Inputs:
    transcripts: str
    edges: str
    turns: int = 0
    convs: int = 0
    tool_turns: int = 0
    n_edges: int = 0


class Workload:
    """Shared set-up and checks; subclasses define the timed pass."""

    name = ""
    n_convs = 0
    mean_turns = 12

    def __init__(self, spark, workdir: str, seed: int, counts: Counts):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.counts = counts
        self.inputs = Inputs(
            transcripts=os.path.join(workdir, "transcripts"),
            edges=os.path.join(workdir, "edges"),
        )
        self.extract_s: list[float] = []  # timed extractions of the current pass

    def call(self, tracer, layer: str, name: str | None = None):
        self.counts.attempted += 1
        return tracer.span(layer, name)

    # -- set-up ------------------------------------------------------------
    def build_tables(self, tracer) -> dict[str, float]:
        """Generate the transcripts table and turn it into the edge table."""
        t0 = time.perf_counter()
        with self.call(tracer, "synth"):
            tr = synth_transcripts(
                self.spark, self.n_convs, seed=self.seed, mean_turns=self.mean_turns
            )
            write_table(tr, self.inputs.transcripts)
        t1 = time.perf_counter()
        self.extract(tracer, self.inputs.edges)
        t2 = time.perf_counter()
        return {"synth_s": t1 - t0, "extract_s": t2 - t1}

    def extract(self, tracer, dest: str) -> float:
        """Read the transcripts table, extract edges, write them to ``dest``."""
        t0 = time.perf_counter()
        with self.call(tracer, "edges", "edges:read+extract+write"):
            edges = extract_edges(read_table(self.spark, self.inputs.transcripts))
            write_table(edges, dest)
        return time.perf_counter() - t0

    def describe_inputs(self) -> None:
        """Input sizes, counted once after set-up (not timed)."""
        tr = read_table(self.spark, self.inputs.transcripts)
        row = tr.agg(
            F.count(F.lit(1)).alias("turns"),
            F.countDistinct("conv_id").alias("convs"),
            F.count(F.when(F.col("tool").isNotNull() & (F.col("tool") != ""), 1)).alias(
                "tool_turns"
            ),
        ).collect()[0]
        self.inputs.turns = int(row["turns"])
        self.inputs.convs = int(row["convs"])
        self.inputs.tool_turns = int(row["tool_turns"])
        self.inputs.n_edges = read_table(self.spark, self.inputs.edges).count()

    def edges(self):
        return read_table(self.spark, self.inputs.edges)

    def loopconf(self) -> dict[str, float]:
        parts = iteration_partitions(self.spark, self.inputs.n_edges)
        return {
            "loopconf.partitions": parts,
            "loopconf.rows_per_task": self.inputs.n_edges / parts,
        }

    # -- timed pass ----------------------------------------------------------
    def run_pass(self, tracer, index: int, warmup: bool = False) -> dict:
        raise NotImplementedError

    def run_ops(self, tracer, index: int, ops, warmup: bool = False) -> tuple[dict, dict]:
        """Run ``(name, fn)`` operators and ``EXTRACT`` steps in order.

        Every extraction writes a table of its own, so nothing is deleted
        inside the pass. Returns, by name, the list of the operators' times
        and of their outputs (``wall_s`` is the whole pass, extractions
        included). The warm-up (``warmup``) runs each operator once and
        skips the extractions, which the set-up builds warmed.
        """
        self.extract_s = []
        times, outs = {}, {}
        t_pass = time.perf_counter()
        for n, (name, fn) in enumerate(ops):
            if (name, fn) == EXTRACT:
                if not warmup:
                    dest = os.path.join(self.workdir, "edges_timed", f"pass{index}_{n}")
                    self.extract_s.append(self.extract(tracer, dest))
                continue
            if warmup and name in outs:
                continue
            t0 = time.perf_counter()
            outs.setdefault(name, []).append(fn())
            times.setdefault(name, []).append(time.perf_counter() - t0)
        times["wall_s"] = [time.perf_counter() - t_pass]
        return times, outs

    # -- checks --------------------------------------------------------------
    def check_edges(self) -> int:
        """Extraction invariants; returns per-turn text mismatches."""
        c = self.counts
        tr = read_table(self.spark, self.inputs.transcripts)
        h = F.sha2(F.col("text"), 256)
        src = tr.select("conv_id", "turn_idx", h.alias("h_src"))
        out = passthrough_turns(tr).select("conv_id", "turn_idx", h.alias("h_out"))
        mismatches = (
            src.join(out, ["conv_id", "turn_idx"], "full_outer")
            .where(
                F.col("h_src").isNull()
                | F.col("h_out").isNull()
                | (F.col("h_src") != F.col("h_out"))
            )
            .count()
        )
        c.check("edges.text_invariant", mismatches == 0, f"{mismatches} turns differ")
        by_type = {
            r["type"]: r["count"]
            for r in self.edges().groupBy("type").count().collect()
        }
        want = {
            "replies_to": self.inputs.turns - self.inputs.convs,
            "invokes": self.inputs.tool_turns,
        }
        c.check("edges.counts", by_type == want, f"got {by_type}, want {want}")
        return mismatches

    def edge_arrays(self):
        pdf = self.edges().select("src", "dst", "weight").toPandas()
        return (
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            pdf["weight"].to_numpy(np.float64),
        )

    def check_pagerank(self, name: str, ranks, want: dict) -> None:
        got = dict(
            ranks.select("v_id", "rank").toPandas().itertuples(index=False, name=None)
        )
        if got.keys() != want.keys():
            self.counts.check(name, False, f"{len(got)} vertices, want {len(want)}")
            return
        keys = list(want)
        g = np.array([got[k] for k in keys])
        w = np.array([want[k] for k in keys])
        err = float(np.max(np.abs(g - w) / w))
        self.counts.check(name, err <= PR_RTOL, f"max relative error {err:.3g}")

    def check_exact(self, name: str, df, col: str, want: dict) -> None:
        got = dict(df.select("v_id", col).toPandas().itertuples(index=False, name=None))
        diff = sum(1 for k in want.keys() | got.keys() if got.get(k, 0) != want.get(k, 0))
        self.counts.check(name, diff == 0, f"{diff} vertices differ")

    def check(self, result: dict) -> dict[str, float]:
        raise NotImplementedError


def _superstep_stats(infos) -> dict[str, float]:
    steps = [s for i in infos for s in i.superstep_secs]
    return {
        "pagerank.setup_s": median(i.setup_sec for i in infos),
        "pagerank.superstep_s.p50": median(steps),
        "pagerank.superstep_s.max": max(steps) if steps else 0.0,
        "pagerank.supersteps": len(steps),
        "pagerank.salted": float(any(i.salted for i in infos)),
    }


class GraphLoops(Workload):
    name = "graph_loops"
    n_convs = 3000

    def run_pass(self, tracer, index: int, warmup: bool = False) -> dict:
        k, cc_rounds, lpa_rounds = PAGERANK_K, 50, LPA_ROUNDS
        edges = self.edges()

        def call(layer, fn):
            def op():
                with self.call(tracer, layer):
                    return fn()

            return op

        run_pr = call("pagerank", lambda: pagerank(edges, tol=0.0, max_iter=k))
        times, out = self.run_ops(tracer, index, [
            EXTRACT,
            ("pagerank_s", run_pr),
            ("cc_s", call("components",
                          lambda: connected_components(edges, max_rounds=cc_rounds))),
            EXTRACT,
            ("pagerank_s", run_pr),
            ("lpa_s", call("lpa", lambda: label_propagation(edges, max_rounds=lpa_rounds))),
            ("triangles_s", call("triangles", lambda: triangle_counts(edges))),
        ], warmup)
        pinfos = [info for _, info in out["pagerank_s"]]
        ranks = out["pagerank_s"][-1][0]
        (cc, cinfo), = out["cc_s"]
        (lpa, linfo), = out["lpa_s"]
        (tri, total), = out["triangles_s"]
        return {
            "times": times,
            "superstep_s": [s for i in pinfos for s in i.superstep_secs],
            "layer": _superstep_stats(pinfos)
            | {
                "components.rounds": cinfo.rounds,
                "lpa.rounds": linfo.rounds,
                "triangles.total": total,
            },
            "out": {"ranks": ranks, "cc": cc, "lpa": lpa, "tri": tri, "tri_total": total},
        }

    def check(self, result: dict) -> dict[str, float]:
        mismatches = self.check_edges()
        src, dst, w = self.edge_arrays()
        out = result["out"]
        self.check_pagerank(
            "pagerank.oracle", out["ranks"], oracles.pagerank_fixed_k(src, dst, w, PAGERANK_K)
        )
        self.check_exact("components.oracle", out["cc"], "component", oracles.components(src, dst))
        self.check_exact("lpa.oracle", out["lpa"], "label", oracles.lpa(src, dst, LPA_ROUNDS))
        want_tri = oracles.triangles(src, dst)
        self.check_exact("triangles.oracle", out["tri"], "triangles", want_tri)
        want_total = sum(want_tri.values()) // 3
        self.counts.check(
            "triangles.total", out["tri_total"] == want_total,
            f"{out['tri_total']} != {want_total}",
        )
        return {"edges.invariant_mismatches": mismatches}


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class DurableResume(Workload):
    name = "durable_resume"
    n_convs = 1500
    mean_turns = 24

    def _dirs(self, index: int) -> tuple[str, str]:
        base = os.path.join(self.workdir, "ckpt", f"pass{index}")
        return os.path.join(base, "pagerank"), os.path.join(base, "components")

    def run_pass(self, tracer, index: int, warmup: bool = False) -> dict:
        k, cc_stop, cc_rounds = PAGERANK_K, CC_STOP_ROUND, 50
        pr_dir, cc_dir = self._dirs(index)
        edges = self.edges()
        cks = []

        def ck(path):
            cks.append(TimedCheckpoint(self.spark, path, tracer, self.counts))
            return cks[-1]

        def call(layer, name, fn):
            def op():
                with self.call(tracer, layer, name):
                    return fn()

            return op

        # Both loops stop before either resumes, so that the supersteps
        # of the two PageRank calls sample the whole pass.
        times, out = self.run_ops(tracer, index, [
            EXTRACT,
            ("pagerank_stop", call("pagerank", "pagerank:stop", lambda: pagerank(
                edges, tol=0.0, max_iter=k // 2, checkpoint=ck(pr_dir)))),
            ("cc_stop", call("components", "components:stop", lambda: connected_components(
                edges, max_rounds=cc_stop, checkpoint=ck(cc_dir)))),
            EXTRACT,
            ("pagerank_resume", call("pagerank", "pagerank:resume", lambda: pagerank(
                edges, tol=0.0, max_iter=k, checkpoint=ck(pr_dir)))),
            ("cc_resume", call("components", "components:resume", lambda: connected_components(
                edges, max_rounds=cc_rounds, checkpoint=ck(cc_dir)))),
        ], warmup)
        t = {name: ts[0] for name, ts in times.items()}
        (_, p1), = out["pagerank_stop"]
        (ranks, p2), = out["pagerank_resume"]
        (_, c1), = out["cc_stop"]
        (cc, c2), = out["cc_resume"]
        resume_s = t["pagerank_resume"] + t["cc_resume"]
        steps = p1.superstep_secs + p2.superstep_secs
        # cks: PageRank stop, CC stop, PageRank resume, CC resume
        commits = len(cks[2].committed_iterations()) + len(cks[3].committed_iterations())
        ck_bytes = _du(pr_dir) + _du(cc_dir)
        return {
            "times": {
                "pagerank_s": [t["pagerank_stop"] + t["pagerank_resume"]],
                "cc_s": [t["cc_stop"] + t["cc_resume"]],
                "resume_s": [resume_s],
                "wall_s": times["wall_s"],
            },
            "superstep_s": steps,
            "layer": _superstep_stats([p1, p2])
            | {
                "components.rounds": c2.rounds,
                "checkpoint.superstep_s": median(steps),
                "checkpoint.resume_s": resume_s,
                "checkpoint.commits": commits,
                "checkpoint.bytes_written": ck_bytes,
                "checkpoint.latest_s": sum(s for c in cks for s in c.latest_s),
                "checkpoint.redone_supersteps": (p1.iterations - (p2.resumed_from or 0))
                + (c1.rounds - (c2.resumed_from or 0)),
            },
            "out": {"ranks": ranks, "cc": cc, "p1": p1, "p2": p2, "c1": c1, "c2": c2},
        }

    def check(self, result: dict) -> dict[str, float]:
        mismatches = self.check_edges()
        src, dst, w = self.edge_arrays()
        out = result["out"]
        self.counts.check(
            "pagerank.resumed", out["p2"].resumed_from == out["p1"].iterations,
            f"resumed from {out['p2'].resumed_from}, stopped at {out['p1'].iterations}",
        )
        self.check_pagerank(
            "pagerank.resume_equals_fresh", out["ranks"],
            oracles.pagerank_fixed_k(src, dst, w, PAGERANK_K),
        )
        self.counts.check(
            "components.resumed", out["c2"].resumed_from == out["c1"].rounds,
            f"resumed from {out['c2'].resumed_from}, stopped at {out['c1'].rounds}",
        )
        self.check_exact(
            "components.resume_equals_fresh", out["cc"], "component",
            oracles.components(src, dst),
        )
        return {"edges.invariant_mismatches": mismatches}


WORKLOADS = {w.name: w for w in (GraphLoops, DurableResume)}


def timed_pass(wl: Workload, tracer, index: int) -> dict:
    res = wl.run_pass(tracer, index)
    res["extract_s"] = wl.extract_s
    return res


def run(
    spark,
    name: str,
    seed: int,
    seconds: float,
    tracer,
    workdir: str,
    on_step=lambda: None,
    n_convs: int | None = None,
) -> dict:
    """Set up, warm up, run timed passes for ``seconds`` and check them.

    ``on_step`` runs after each set-up repetition and pass (the benchmark
    samples memory there). ``n_convs`` overrides the workload's input size.
    """
    counts = Counts()
    wl = WORKLOADS[name](spark, workdir, seed, counts)
    if n_convs is not None:
        wl.n_convs = n_convs
    quiet = NullTracer()

    reps = []
    for _ in range(BUILD_REPS):
        reps.append(wl.build_tables(quiet))
        on_step()
    t0 = time.perf_counter()
    wl.describe_inputs()
    phases = {"describe_s": time.perf_counter() - t0}

    t0 = time.perf_counter()
    wl.run_pass(quiet, 0, warmup=True)
    warmup_s = time.perf_counter() - t0
    on_step()

    # A traced run first makes one untraced pass: its job count is the
    # baseline a traced pass must match, and its wall time the baseline
    # for the tracing overhead. It counts against ``seconds``.
    t_start = time.perf_counter()
    baseline = None
    if tracer.enabled:
        j0 = total_jobs(spark)
        baseline = timed_pass(wl, quiet, 1)
        baseline["jobs"] = total_jobs(spark) - j0
        on_step()

    passes = []
    while True:
        mark = len(tracer.spans)
        own0 = tracer.own_s
        j0 = total_jobs(spark)
        res = timed_pass(wl, tracer, len(passes) + 2)
        res["jobs"] = total_jobs(spark) - j0
        res["spans"] = tracer.spans[mark:]
        res["trace_s"] = tracer.own_s - own0
        passes.append(res)
        on_step()
        if time.perf_counter() - t_start >= seconds:
            break

    t0 = time.perf_counter()
    extra = wl.check(passes[-1])
    phases["check_s"] = time.perf_counter() - t0
    return {
        "workload": wl,
        "counts": counts,
        "reps": reps,
        "warmup_s": warmup_s,
        "baseline": baseline,
        "passes": passes,
        "check_metrics": extra,
        "phases": phases,
    }
