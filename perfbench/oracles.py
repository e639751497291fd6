"""Single-node reference results the benchmark checks the engine against.

PageRank is a vectorised numpy power iteration with the engine's
semantics (uniform teleport, dangling mass spread uniformly, parallel
edges summing weight). Connected components and triangles come from
networkx on the simple undirected projection. LPA is a vectorised
synchronous round with ties broken to the smallest label, stopping early
when no label changes, as the engine does.
"""

from __future__ import annotations

import networkx as nx
import numpy as np


def pagerank_fixed_k(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    k: int,
    damping: float = 0.85,
) -> dict[int, float]:
    """Exactly ``k`` power-iteration steps from the uniform vector."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    s, d = inv[: len(src)], inv[len(src) :]
    out_w = np.bincount(s, weights=w, minlength=n)
    p = w / out_w[s]
    dangling = out_w == 0
    x = np.full(n, 1.0 / n)
    for _ in range(k):
        im = np.bincount(d, weights=x[s] * p, minlength=n)
        x = (1.0 - damping) / n + damping * (im + x[dangling].sum() / n)
    return dict(zip(ids.tolist(), x.tolist()))


def _simple_graph(src: np.ndarray, dst: np.ndarray) -> nx.Graph:
    g = nx.Graph()
    g.add_nodes_from(np.unique(np.concatenate([src, dst])).tolist())
    keep = src != dst
    g.add_edges_from(zip(src[keep].tolist(), dst[keep].tolist()))
    return g


def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Vertex → minimum vertex id of its connected component."""
    out = {}
    for comp in nx.connected_components(_simple_graph(src, dst)):
        root = min(comp)
        for v in comp:
            out[v] = root
    return out


def triangles(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Vertex → number of triangles it is a corner of."""
    return nx.triangles(_simple_graph(src, dst))


def lpa(src: np.ndarray, dst: np.ndarray, rounds: int) -> dict[int, int]:
    """Synchronous LPA: each vertex takes its neighbours' most frequent
    label, ties to the smallest; vertices without neighbours keep theirs."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    s, d = inv[: len(src)], inv[len(src) :]
    keep = s != d
    pairs = np.unique(
        np.concatenate(
            [np.stack([s[keep], d[keep]], 1), np.stack([d[keep], s[keep]], 1)]
        ),
        axis=0,
    )
    u, v = pairs[:, 0], pairs[:, 1]  # u's label flows to v
    labels = np.arange(n)  # label index; ids are sorted, so index order = id order
    for _ in range(rounds):
        key, counts = np.unique(v * n + labels[u], return_counts=True)
        kv, kl = key // n, key % n
        # per vertex: highest count first, then smallest label
        order = np.lexsort((kl, -counts, kv))
        kv, kl = kv[order], kl[order]
        first = np.ones(len(kv), dtype=bool)
        first[1:] = kv[1:] != kv[:-1]
        new = labels.copy()
        new[kv[first]] = kl[first]
        if np.array_equal(new, labels):
            break
        labels = new
    return dict(zip(ids.tolist(), ids[labels].tolist()))
