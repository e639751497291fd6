"""Noise-banded A/B of two revisions on the perfbench workloads.

    python tools/ab.py BASE HEAD --workdir DIR [--pairs 10] [--seed0 1401]
        [--workloads graph_loops,durable_resume]
    python tools/ab.py --workdir DIR --summarize

Exports BASE and HEAD (git refs; ``WORKTREE`` stands for this checkout's
tracked and untracked, not ignored, files as they are now) into
``DIR/base`` and ``DIR/head`` with ``git archive``, so the repository
gets no worktree or ref of its own. ``DIR`` must lie outside the
repository and hold no earlier ``base``, ``head`` or ``ab.jsonl``. Then
it runs ``--pairs`` pairs of fresh-JVM ``perfbench/run.py --trace 0``
runs per workload, each with perfbench's own run length and input size.
Pair ``i`` uses seed ``seed0 + i`` on both sides and alternates the side
that runs first (base first on even pairs), and the pairs of all
workloads interleave in time, so host drift falls on both sides alike.

For every end-to-end metric of ``BENCHMARK.json`` it prints each side's
median and interquartile range, the relative change of the median, whether
the medians differ by more than the base IQR, whether head is worse past
the metric's ``bound``, and the pairs head won (by the metric's
``better`` direction; ties count for neither side). Every run's
result line is appended to ``DIR/ab.jsonl`` as it finishes, and the
summary is the last line of standard output as JSON. The A/B protocol is
that of ``tools/ab_extract.py``: interleaved fresh-JVM pairs, every
sample reported.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
WORKTREE = "WORKTREE"


def export(ref: str, dest: Path) -> str:
    """Write the files of ``ref`` to ``dest``; returns what was exported."""
    dest.mkdir(parents=True)
    if ref == WORKTREE:
        names = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=REPO, check=True, capture_output=True,
        ).stdout.decode().split("\0")
        for name in filter(None, names):
            src = REPO / name
            if src.is_file():  # a deleted tracked file is listed too
                (dest / name).parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dest / name)
        return "working tree of " + _rev("HEAD")
    archive = subprocess.run(
        ["git", "archive", "--format=tar", ref], cwd=REPO, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    return _rev(ref)


def _rev(ref: str) -> str:
    return subprocess.run(
        ["git", "rev-parse", "--short", ref], cwd=REPO, check=True,
        capture_output=True, text=True,
    ).stdout.strip()


def run_one(checkout: Path, workload: str, seed: int) -> dict:
    """One fresh-JVM perfbench run; returns its result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        return {"correct": False, "failed": 1, "metrics": {}, "run_s": round(time.time() - t0, 1)}
    res = json.loads(lines[-1])
    res["run_s"] = round(time.time() - t0, 1)
    return res


def _iqr(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def summarize(rows: list[dict], metrics: dict[str, str]) -> dict:
    """Per workload and metric: medians, IQRs, paired difference, wins."""
    out: dict = {}
    for wl in sorted({r["workload"] for r in rows}):
        pairs: dict[int, dict] = {}
        for r in rows:
            if r["workload"] == wl:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        full = [p for p in pairs.values() if "base" in p and "head" in p]
        wl_out = {
            "pairs": len(full),
            "failed": sum(p[s].get("failed", 1) for p in full for s in ("base", "head")),
        }
        for name, (better, bound) in metrics.items():
            got = [
                (p["base"]["metrics"][name]["value"], p["head"]["metrics"][name]["value"])
                for p in full
                if name in p["base"]["metrics"] and name in p["head"]["metrics"]
            ]
            if not got:
                continue
            base = [b for b, _ in got]
            head = [h for _, h in got]
            bm, hm = statistics.median(base), statistics.median(head)
            q1, q3 = _iqr(base)
            sign = -1 if better == "lower" else 1
            change = (hm - bm) / bm if bm else 0.0
            wl_out[name] = {
                "base_median": bm,
                "base_iqr": [q1, q3],
                "head_median": hm,
                "head_iqr": list(_iqr(head)),
                "change": change,
                "beyond_base_iqr": abs(hm - bm) > q3 - q1,
                "past_bound": -sign * change > bound,
                "head_wins": sum(sign * (h - b) > 0 for b, h in got),
                "n": len(got),
            }
        out[wl] = wl_out
    return out


def report(summary: dict) -> list[str]:
    lines = []
    for wl, s in summary.items():
        lines.append(f"{wl}: {s['pairs']} pairs, {s['failed']} failed runs")
        lines.append(
            f"  {'metric':<24}{'base median [IQR]':>34}{'head median [IQR]':>34}"
            f"{'change':>9}{'>IQR':>6}{'>bound':>8}{'wins':>7}"
        )
        for name, m in s.items():
            if not isinstance(m, dict):
                continue
            b = f"{m['base_median']:.4g} [{m['base_iqr'][0]:.4g}-{m['base_iqr'][1]:.4g}]"
            h = f"{m['head_median']:.4g} [{m['head_iqr'][0]:.4g}-{m['head_iqr'][1]:.4g}]"
            lines.append(
                f"  {name:<24}{b:>34}{h:>34}{m['change']:>+9.1%}"
                f"{'yes' if m['beyond_base_iqr'] else 'no':>6}"
                f"{'yes' if m['past_bound'] else 'no':>8}{m['head_wins']:>4}/{m['n']}"
            )
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base", nargs="?")
    ap.add_argument("head", nargs="?")
    ap.add_argument("--workdir", required=True, help="exports and results go here")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1401)
    ap.add_argument("--workloads", default="graph_loops,durable_resume")
    ap.add_argument("--summarize", action="store_true",
                    help="only summarize the runs already in DIR/ab.jsonl")
    args = ap.parse_args(argv)

    work = Path(args.workdir).resolve()
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    metrics = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    log = work / "ab.jsonl"
    if args.summarize:
        if not log.exists():
            ap.error(f"{log} does not exist: nothing to summarize")
    else:
        if args.head is None:
            ap.error("BASE and HEAD are required unless --summarize is given")
        if work == REPO or REPO in work.parents:
            ap.error(f"--workdir {work} lies inside the repository; pick one outside it")
        sides = {"base": work / "base", "head": work / "head"}
        earlier = [p for p in (*sides.values(), log) if p.exists()]
        if earlier:
            ap.error(f"--workdir holds an earlier A/B ({', '.join(map(str, earlier))}); "
                     "pick a new one, or pass --summarize to re-read its log")
        work.mkdir(parents=True, exist_ok=True)
        revs = {s: export(ref, sides[s]) for s, ref in (("base", args.base), ("head", args.head))}
        print(f"base {args.base} ({revs['base']}) -> {sides['base']}", flush=True)
        print(f"head {args.head} ({revs['head']}) -> {sides['head']}", flush=True)
        log.write_text("")
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for wl in args.workloads.split(","):
                for side in order:
                    res = run_one(sides[side], wl, seed)
                    row = {"pair": i, "seed": seed, "workload": wl, "side": side,
                           "result": res}
                    with log.open("a") as f:
                        f.write(json.dumps(row) + "\n")
                    vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
                    print(f"pair {i} seed {seed} {wl} {side}: correct={res['correct']} "
                          f"{vals} ({res['run_s']} s)", flush=True)
    rows = [json.loads(l) for l in log.read_text().splitlines() if l.strip()]
    summary = summarize(rows, metrics)
    print("\n".join(report(summary)))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
