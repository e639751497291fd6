"""Trusted single-node oracles for parity tests.

Mirrors the reference's test strategy of recomputing results with an
independent implementation (``/root/reference/test/checker.py:75-89``
uses networkx as the oracle). networkx here lacks scipy, so PageRank
is a numpy power iteration with exactly the textbook/networkx
semantics; CC and triangles use networkx's pure-python algorithms;
LPA uses a handwritten synchronous implementation with the engine's
deterministic tie-break.
"""

from __future__ import annotations

import numpy as np


def pagerank_oracle(
    edges: list[tuple[int, int, float]],
    vertices: list[int] | None = None,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 500,
    seeds: list[int] | None = None,
    init: dict[int, float] | None = None,
) -> dict[int, float]:
    """Power iteration; multigraph parallel edges sum weights; dangling
    mass redistributed via the reset vector (uniform, or uniform over
    ``seeds`` for personalized runs); L1 convergence err < N*tol.
    ``init`` starts from that vector (every vertex), rescaled to sum 1,
    instead of the reset vector."""
    vs = set(vertices or [])
    for s, d, _ in edges:
        vs.add(s)
        vs.add(d)
    vs = sorted(vs)
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    if n == 0:
        return {}
    w = {}
    out_w = np.zeros(n)
    for s, d, wt in edges:
        k = (idx[s], idx[d])
        w[k] = w.get(k, 0.0) + wt
        out_w[idx[s]] += wt
    if seeds is not None:
        seed_set = set(seeds)
        reset = np.zeros(n)
        for s in seed_set:
            reset[idx[s]] = 1.0 / len(seed_set)
    else:
        reset = np.full(n, 1.0 / n)
    x = reset.copy()
    if init is not None:
        x = np.array([init[v] for v in vs], dtype=float)
        x /= x.sum()
    for _ in range(max_iter):
        xlast = x
        x = np.zeros(n)
        for (si, di), wt in w.items():
            x[di] += damping * xlast[si] * wt / out_w[si]
        dangling = xlast[out_w == 0].sum()
        x += (1.0 - damping) * reset + damping * dangling * reset
        if np.abs(x - xlast).sum() < n * tol:
            break
    return {v: x[idx[v]] for v in vs}


def lpa_oracle(
    edges: list[tuple[int, int]],
    rounds: int,
    vertices: list[int] | None = None,
) -> dict[int, int]:
    """Synchronous LPA, undirected simple projection, label=mode of
    neighbor labels, ties to smallest label, isolated keep their own."""
    vs = set(vertices or [])
    nbrs: dict[int, set[int]] = {}
    for s, d in edges:
        vs.add(s)
        vs.add(d)
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    labels = {v: v for v in vs}
    for _ in range(rounds):
        new = {}
        for v in vs:
            ns = nbrs.get(v)
            if not ns:
                new[v] = labels[v]
                continue
            counts: dict[int, int] = {}
            for u in ns:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == labels:
            labels = new
            break
        labels = new
    return labels


def hashmin_oracle(
    edges: list[tuple[int, int]],
    rounds: int,
    vertices: list[int] | None = None,
) -> dict[int, int]:
    """Fixed-round hash-min component labels (matches
    ``hashmin_components`` round-for-round)."""
    vs = set(vertices or [])
    nbrs: dict[int, set[int]] = {}
    for s, d in edges:
        vs.add(s)
        vs.add(d)
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    labels = {v: v for v in vs}
    for _ in range(rounds):
        new = {}
        for v in vs:
            m = labels[v]
            for u in nbrs.get(v, ()):
                if labels[u] < m:
                    m = labels[u]
            new[v] = m
        labels = new
    return labels


def hits_oracle(
    edges: list[tuple[int, int, float]],
    vertices: list[int] | None = None,
    tol: float = 1e-9,
    max_iter: int = 500,
) -> dict[int, tuple[float, float]]:
    """Kleinberg HITS with L1 normalization each half-step (auth from
    prev hub, hub from the NEW auth); multigraph parallel edges sum
    weights. Returns {v: (hub, auth)}."""
    vs = set(vertices or [])
    for s, d, _ in edges:
        vs.add(s)
        vs.add(d)
    vs = sorted(vs)
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    if n == 0:
        return {}
    w = {}
    for s, d, wt in edges:
        k = (idx[s], idx[d])
        w[k] = w.get(k, 0.0) + wt
    h = np.full(n, 1.0 / n)
    a = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        hlast, alast = h, a
        a = np.zeros(n)
        for (si, di), wt in w.items():
            a[di] += wt * hlast[si]
        a = a / a.sum()
        h = np.zeros(n)
        for (si, di), wt in w.items():
            h[si] += wt * a[di]
        h = h / h.sum()
        if (np.abs(h - hlast).sum() + np.abs(a - alast).sum()) < n * tol:
            break
    return {v: (h[idx[v]], a[idx[v]]) for v in vs}
