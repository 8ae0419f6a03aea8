"""Spark-free reference results for the benchmark's output checks.

Every function takes the collected edge list as a ``Graph`` and
returns one value per vertex, ordered like ``Graph.ids``, so it can be
compared with what an engine operator returned. The algorithms mirror
the engine's update rules and stopping criteria, but use numpy
scatter/gather instead of Spark, so they stay fast at a few hundred
thousand edges and report the step counts the checks compare. Connected
components, coreness and the triangle count come from the test suite's
oracles (``tests/util_oracles.py``) through ``Graph.pairs`` and
``Graph.by_id``.
"""

from __future__ import annotations

import numpy as np


class Graph:
    """Directed weighted edge list re-indexed to dense vertex indices.

    Vertex ids are sorted ascending, so "smallest index" and "smallest
    id" name the same vertex — the tie-break every engine operator uses.
    """

    def __init__(self, src: np.ndarray, dst: np.ndarray, w: np.ndarray) -> None:
        self.ids = np.unique(np.concatenate([src, dst]))
        self.n = len(self.ids)
        self.src = np.searchsorted(self.ids, src)
        self.dst = np.searchsorted(self.ids, dst)
        self.w = np.asarray(w, dtype=np.float64)

    def undirected(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Both orientations, weights summed per ordered pair, self-loops
        dropped (the engine's ``symmetrize`` over loop-free input)."""
        keep = self.src != self.dst
        u = np.concatenate([self.src[keep], self.dst[keep]])
        v = np.concatenate([self.dst[keep], self.src[keep]])
        w = np.concatenate([self.w[keep], self.w[keep]])
        key = u * self.n + v
        uniq, inv = np.unique(key, return_inverse=True)
        return uniq // self.n, uniq % self.n, np.bincount(inv, weights=w)

    def pairs(self) -> list[tuple[int, int]]:
        """The edges as (src id, dst id) tuples, the test oracles' input."""
        return list(zip(self.ids[self.src].tolist(), self.ids[self.dst].tolist()))

    def by_id(self, values: dict) -> np.ndarray:
        """A test oracle's {vertex id: value} answer, ordered like ``ids``."""
        return np.array([values[i] for i in self.ids.tolist()])


def pagerank(g: Graph, damping: float = 0.85, tol: float = 1e-6,
             max_iter: int = 200) -> tuple[np.ndarray, int]:
    """Power iteration with uniform dangling redistribution; stops when
    max|r' - r| < tol or after max_iter steps. Returns (ranks, steps)."""
    n = g.n
    out_w = np.bincount(g.src, weights=g.w, minlength=n)
    frac = g.w / out_w[g.src]
    dangling = out_w == 0
    r = np.full(n, 1.0 / n)
    step = 0
    for step in range(1, max_iter + 1):
        base = (1.0 - damping) / n + damping * r[dangling].sum() / n
        new = base + damping * np.bincount(g.dst, weights=r[g.src] * frac, minlength=n)
        delta = np.abs(new - r).max()
        r = new
        if delta < tol:
            break
    return r, step


def hits(g: Graph, tol: float = 1e-6, max_iter: int = 100
         ) -> tuple[np.ndarray, np.ndarray, int]:
    """Weighted HITS, L2-normalized, hub pass over the un-normalized
    authority sums. Returns (hub, auth, steps)."""
    n = g.n
    h = np.full(n, 1.0 / np.sqrt(n))
    a = np.zeros(n)
    step = 0
    for step in range(1, max_iter + 1):
        a_raw = np.bincount(g.dst, weights=h[g.src] * g.w, minlength=n)
        t_raw = np.bincount(g.src, weights=a_raw[g.dst] * g.w, minlength=n)
        a_new = a_raw / np.linalg.norm(a_raw)
        h_new = t_raw / np.linalg.norm(t_raw)
        delta = max(np.abs(a_new - a).max(), np.abs(h_new - h).max())
        a, h = a_new, h_new
        if delta < tol:
            break
    return h, a, step


def label_propagation(g: Graph, max_iter: int) -> tuple[np.ndarray, int]:
    """Synchronous weighted LPA on the symmetrized graph: each vertex
    takes the neighbour label of largest summed weight, ties to the
    smallest label; stops when no label changes or after max_iter."""
    u, v, w = g.undirected()
    lab = np.arange(g.n)
    step = 0
    for step in range(1, max_iter + 1):
        lu = lab[u]
        order = np.lexsort((lu, v))
        vs, ls, ws = v[order], lu[order], w[order]
        start = np.flatnonzero(np.r_[True, (vs[1:] != vs[:-1]) | (ls[1:] != ls[:-1])])
        gv, gl, gw = vs[start], ls[start], np.add.reduceat(ws, start)
        best = np.lexsort((gl, -gw, gv))
        first = best[np.r_[True, gv[best][1:] != gv[best][:-1]]]
        new = lab.copy()
        new[gv[first]] = gl[first]
        changed = not np.array_equal(new, lab)
        lab = new
        if not changed:
            break
    return g.ids[lab], step


def h_index_rounds(g: Graph, max_iter: int) -> tuple[np.ndarray, int]:
    """Synchronous h-index iteration from the degrees (each vertex takes
    the h-index of its neighbours' values) until nothing changes or
    ``max_iter`` rounds have run; converged, it is the coreness.
    Returns (values, rounds)."""
    u, v, _ = g.undirected()
    core = np.bincount(u, minlength=g.n)
    step = 0
    for step in range(1, max_iter + 1):
        nbr = core[v]
        by = np.lexsort((-nbr, u))  # per vertex, neighbour values descending
        uu, vals = u[by], nbr[by]
        start = np.flatnonzero(np.r_[True, uu[1:] != uu[:-1]])
        rank = np.arange(len(uu)) - np.repeat(start, np.diff(np.r_[start, len(uu)])) + 1
        new = np.zeros(g.n, dtype=core.dtype)
        new[uu[start]] = np.maximum.reduceat(np.minimum(vals, rank), start)
        changed = not np.array_equal(new, core)
        core = new
        if not changed:
            break
    return core, step
