"""NumPy oracles for the benchmark's outputs (no Spark).

Each one implements the same reference semantics as ``tests/oracles.py``
(NetworkX-rule PageRank, min-id WCC, LDBC CDLP with min tie-break,
per-vertex triangle counts) but vectorised, so it checks benchmark-sized
outputs in well under a second. ``perfbench/test_oracles.py`` shows each
agrees with ``tests/oracles.py`` and catches a perturbed result.

Vertex ids are arbitrary int64 values; every oracle takes the vertex id
array and compacts ids with ``np.searchsorted``.
"""

from __future__ import annotations

import numpy as np

ALPHA = 0.85


def _index(vertices: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Positions of ``ids`` in the sorted unique array ``vertices``."""
    pos = np.searchsorted(vertices, ids)
    if len(ids) and (pos.max() >= len(vertices) or not np.array_equal(vertices[pos], ids)):
        raise ValueError("edge endpoint missing from the vertex table")
    return pos


def pagerank_rounds(vertices, src, dst, x0, tol: float, max_iter: int,
                    alpha: float = ALPHA) -> tuple[np.ndarray, int]:
    """NetworkX-rule power iteration from start vector ``x0`` (aligned with
    sorted ``vertices``): dangling mass spread uniformly, stop after the
    first round with ``sum|x_k - x_{k-1}| < n * tol`` (never when
    ``tol <= 0``) or after ``max_iter`` rounds. Each edge row has weight 1,
    so duplicate rows count twice. Returns (x, rounds run)."""
    n = len(vertices)
    s, d = _index(vertices, src), _index(vertices, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    inv = np.divide(1.0, outdeg, out=np.zeros(n), where=~dangling)
    x = np.asarray(x0, dtype=np.float64)
    for k in range(1, max_iter + 1):
        base = alpha * x[dangling].sum() / n + (1.0 - alpha) / n
        nxt = alpha * np.bincount(d, weights=(x * inv)[s], minlength=n) + base
        err = np.abs(nxt - x).sum()
        x = nxt
        if tol > 0 and err < n * tol:
            return x, k
    return x, max_iter


def pagerank(vertices, src, dst, tol: float = 1e-6, max_iter: int = 100,
             alpha: float = ALPHA) -> np.ndarray:
    """Cold-start PageRank (``x0 = 1/n``), aligned with sorted ``vertices``."""
    n = len(vertices)
    return pagerank_rounds(vertices, src, dst, np.full(n, 1.0 / n), tol, max_iter, alpha)[0]


def warm_start(vertices, prev_ids, prev_rank) -> np.ndarray:
    """Start vector of ``pagerank(init_ranks=...)``: the previous score where
    known, ``1/n`` for new vertices, normalised to sum 1."""
    n = len(vertices)
    x = np.full(n, 1.0 / n)
    x[_index(vertices, prev_ids)] = prev_rank
    return x / x.sum()


def wcc(vertices, src, dst) -> np.ndarray:
    """Component label (minimum vertex id in the component) per vertex,
    aligned with sorted ``vertices``; edge direction is ignored."""
    parent = np.arange(len(vertices))
    s, d = _index(vertices, src), _index(vertices, dst)
    # min-label hooking with pointer jumping until no edge joins two roots
    while True:
        parent = _compress(parent)
        ps, pd = parent[s], parent[d]
        cross = ps != pd
        if not cross.any():
            break
        lo, hi = np.minimum(ps[cross], pd[cross]), np.maximum(ps[cross], pd[cross])
        np.minimum.at(parent, hi, lo)
    return vertices[_compress(parent)]


def _compress(parent: np.ndarray) -> np.ndarray:
    while True:
        nxt = parent[parent]
        if np.array_equal(nxt, parent):
            return parent
        parent = nxt


def cdlp(vertices, src, dst, rounds: int = 10) -> np.ndarray:
    """Synchronous label propagation, LDBC rule: every edge gives each
    endpoint the other's label (a reciprocal pair counts twice, self-loops
    are dropped), a vertex takes its most frequent neighbour label with the
    smallest label winning ties, and a vertex without neighbours keeps its
    own. Stops early once no label changes. Aligned with sorted ``vertices``."""
    n = len(vertices)
    s, d = _index(vertices, src), _index(vertices, dst)
    keep = s != d
    s, d = s[keep], d[keep]
    owner = np.concatenate([s, d])
    nbr = np.concatenate([d, s])
    label = np.arange(n)  # labels are vertex positions until the end
    for _ in range(rounds):
        key = owner.astype(np.int64) * n + label[nbr]
        uniq, cnt = np.unique(key, return_counts=True)
        v, lab = uniq // n, uniq % n
        order = np.lexsort((lab, -cnt, v))
        first = np.ones(len(order), dtype=bool)
        first[1:] = v[order][1:] != v[order][:-1]
        new = label.copy()
        new[v[order][first]] = lab[order][first]
        if np.array_equal(new, label):
            break
        label = new
    return vertices[label]


def triangles(vertices, src, dst) -> np.ndarray:
    """Per-vertex triangle count on the undirected simple graph, as the
    dense ``((A @ A) * A).sum(1) / 2``; for graphs of a few thousand
    vertices. Aligned with sorted ``vertices``."""
    n = len(vertices)
    s, d = _index(vertices, src), _index(vertices, dst)
    a = np.zeros((n, n))
    a[s, d] = 1.0
    a[d, s] = 1.0
    np.fill_diagonal(a, 0.0)
    return np.rint(((a @ a) * a).sum(axis=1) / 2).astype(np.int64)
