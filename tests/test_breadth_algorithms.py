from __future__ import annotations

import math

import numpy as np
import pytest

from tests.conftest import ALL_FIXTURES, make_graph, p2p_mid
from tests.oracles import bfs_oracle, sssp_oracle


def test_bfs(spark):
    from graphscope_spark.algorithms.traversal import bfs

    vertices, edges = p2p_mid(n=200, m=600)
    want = bfs_oracle(vertices, edges, 1)
    # bfs is unit-weight sssp: a non-unit weight column must be ignored
    wedges = [(s, d, 1.0 + (s * 7 + d * 13) % 5) for s, d in edges]
    for g in (
        make_graph(spark, edges, vertices),
        make_graph(spark, wedges, vertices, weights=True),
    ):
        got = {r["id"]: r["depth"] for r in bfs(g, source=1).collect()}
        assert got == want
        g.unpersist()


def test_sssp_weighted(spark):
    from graphscope_spark.algorithms.traversal import sssp

    vertices, edges = p2p_mid(n=150, m=700)
    wedges = [(s, d, 1.0 + (s * 7 + d * 13) % 5) for s, d in edges]
    g = make_graph(spark, wedges, vertices, weights=True)
    got = {r["id"]: r["distance"] for r in sssp(g, source=1).collect()}
    want = sssp_oracle(vertices, wedges, 1)
    for v in vertices:
        if math.isinf(want[v]):
            assert got[v] is None
        else:
            assert abs(got[v] - want[v]) < 1e-9
    g.unpersist()


def _kcore_oracle(vertices, edges, k):
    adj = {v: set() for v in vertices}
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    alive = set(vertices)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < k}
        if not drop:
            break
        alive -= drop
    return alive


@pytest.mark.parametrize("k", [2, 3])
def test_kcore(spark, k):
    from graphscope_spark.algorithms.kcore import k_core

    vertices, edges = p2p_mid(n=120, m=500)
    g = make_graph(spark, edges, vertices)
    got = {r["id"] for r in k_core(g, k).collect() if r["in_core"]}
    assert got == _kcore_oracle(vertices, edges, k)
    g.unpersist()


@pytest.mark.parametrize("k", [2, 4])
def test_kcore_search(spark, k):
    """flash/core/k-core-search.h: members + residual (in-core) degree."""
    from graphscope_spark.algorithms.kcore import k_core_search

    vertices, edges = p2p_mid(n=120, m=500)
    g = make_graph(spark, edges, vertices)
    got = {r["id"]: r["d"] for r in k_core_search(g, k).collect()}
    alive = _kcore_oracle(vertices, edges, k)
    adj = {v: set() for v in vertices}
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    want = {v: len(adj[v] & alive) for v in alive}
    assert got == want
    assert all(d >= k for d in got.values())
    with pytest.raises(ValueError, match="k >= 1"):
        k_core_search(g, 0)
    g.unpersist()


def test_kshell(spark):
    from graphscope_spark.algorithms.kcore import k_shell

    vertices, edges = ALL_FIXTURES["tri_cluster"]
    g = make_graph(spark, edges, vertices)
    got = {r["id"]: r["shell"] for r in k_shell(g).collect()}
    # K4 vertices are 3-shell, pendant vertex 5 is 1-shell
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1}
    g.unpersist()


def test_degree_centrality(spark):
    from graphscope_spark.algorithms.centrality import degree_centrality

    vertices, edges = ALL_FIXTURES["diamond"]
    g = make_graph(spark, edges, vertices)
    got = {r["id"]: r["centrality"] for r in degree_centrality(g).collect()}
    assert got == {1: 2 / 3, 2: 2 / 3, 3: 2 / 3, 4: 2 / 3}
    got_in = {r["id"]: r["centrality"] for r in degree_centrality(g, "in").collect()}
    assert got_in == {1: 0.0, 2: 1 / 3, 3: 1 / 3, 4: 2 / 3}
    g.unpersist()


def _dense_hits(vertices, edges, rounds=60):
    idx = {v: i for i, v in enumerate(vertices)}
    n = len(vertices)
    A = np.zeros((n, n))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    h = np.ones(n) / n
    a = np.ones(n) / n
    for _ in range(rounds):
        a = A.T @ h
        if a.sum():
            a = a / a.sum()
        h = A @ a
        if h.sum():
            h = h / h.sum()
    return h, a


def test_hits(spark):
    from graphscope_spark.algorithms.hits import hits

    vertices, edges = p2p_mid(n=80, m=400)
    g = make_graph(spark, edges, vertices)
    rows = hits(g, tolerance=1e-12, max_round=60).collect()
    got_h = {r["id"]: r["hub"] for r in rows}
    got_a = {r["id"]: r["auth"] for r in rows}
    h, a = _dense_hits(vertices, edges, rounds=60)
    idx = {v: i for i, v in enumerate(vertices)}
    for v in vertices:
        assert abs(got_h[v] - h[idx[v]]) < 1e-6
        assert abs(got_a[v] - a[idx[v]]) < 1e-6
    g.unpersist()


def test_eigenvector_centrality(spark):
    from graphscope_spark.algorithms.centrality import eigenvector_centrality

    vertices, edges = p2p_mid(n=60, m=600)
    g = make_graph(spark, edges, vertices)
    got = {r["id"]: r["centrality"] for r in
           eigenvector_centrality(g, max_iter=200, tol=1e-10).collect()}
    idx = {v: i for i, v in enumerate(vertices)}
    n = len(vertices)
    A = np.zeros((n, n))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    x = np.ones(n) / n
    for _ in range(400):
        x = A.T @ x
        x = x / np.linalg.norm(x)
    for v in vertices:
        assert abs(got[v] - x[idx[v]]) < 1e-4
    g.unpersist()


def test_closeness(spark):
    from graphscope_spark.algorithms.centrality import closeness_centrality

    # path graph 1→2→3→4: closeness of 4 (incoming) = ((3)/(3))*((3)/6)=0.5
    vertices, edges = [1, 2, 3, 4], [(1, 2), (2, 3), (3, 4)]
    g = make_graph(spark, edges, vertices)
    got = {r["id"]: r["centrality"] for r in
           closeness_centrality(g, sources=[4, 1]).collect()}
    assert abs(got[4] - 0.5) < 1e-12
    assert got[1] == 0.0
    g.unpersist()


def test_core_numbers_hindex_matches_peel(spark):
    from graphscope_spark.algorithms.kcore import k_shell

    from tests.conftest import p2p_mid, make_graph

    vertices, edges = p2p_mid(n=120, m=700, seed=13)
    g = make_graph(spark, edges, vertices)
    h = {r["id"]: r["shell"] for r in k_shell(g, mode="hindex").collect()}
    p = {r["id"]: r["shell"] for r in k_shell(g, mode="peel").collect()}
    assert h == p
    g.unpersist()


def test_random_multi_bfs(spark):
    """flash/traversal/random-multi-bfs.h: k seeded roots, exact parity
    with per-root single-source BFS; deterministic root choice."""
    from graphscope_spark.algorithms.traversal import bfs, random_multi_bfs

    vertices, edges = p2p_mid(n=120, m=400)
    g = make_graph(spark, edges, vertices)
    res = random_multi_bfs(g, k=3, seed=7)
    rows = res.collect()
    roots = sorted({r["source"] for r in rows})
    n = len(vertices)
    assert roots == sorted({(7 + i * (n // 3)) % n for i in range(3)})
    got = {}
    for r in rows:
        got.setdefault(r["source"], {})[r["id"]] = r["depth"]
    for s in roots:
        want = {
            r["id"]: r["depth"] for r in bfs(g, source=s).collect()
            if r["depth"] is not None and r["depth"] >= 0
        }
        assert got[s] == want, f"source {s}"
    # depth cap bounds the frontier rounds
    capped = random_multi_bfs(g, k=3, seed=7, max_depth=1).collect()
    assert max(r["depth"] for r in capped) <= 1
    # determinism across calls
    again = sorted(
        (r["source"], r["id"], r["depth"])
        for r in random_multi_bfs(g, k=3, seed=7).collect()
    )
    assert again == sorted((r["source"], r["id"], r["depth"]) for r in rows)
    g.unpersist()

    # sparse (non-dense) id space refuses loudly
    g2 = make_graph(spark, [(1000, 2000)], [1000, 2000])
    with pytest.raises(ValueError, match="not dense"):
        random_multi_bfs(g2, k=2, seed=0)
    g2.unpersist()
