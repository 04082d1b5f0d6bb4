"""Ingress delta recompute == full recompute, bit-for-bit (ingress.md)."""

from __future__ import annotations

import random

from tests.conftest import make_graph
from tests.oracles import bfs_oracle

from graphscope_spark.engine.ingress import bfs_delta, sssp_delta, wcc_delta


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rand_edges(n, m, seed):
    random.seed(seed)
    edges = set()
    while len(edges) < m:
        a, b = random.randrange(n), random.randrange(n)
        if a != b:
            edges.add((a, b))
    return sorted(edges)


def test_wcc_delta_equals_full(spark):
    from graphscope_spark.algorithms.wcc import wcc

    n = 40
    base = _rand_edges(n, 50, seed=11)
    delta = _rand_edges(n, 12, seed=99)
    delta = [e for e in delta if e not in set(base)]
    g = make_graph(spark, base, vertices=list(range(n)))
    prev = wcc(g)
    ddf = spark.createDataFrame(delta, "src long, dst long")
    got = _rows(wcc_delta(g, ddf, prev))
    want = _rows(wcc(g.add_edges(ddf)))
    assert got == want


def test_wcc_delta_new_vertices(spark):
    from graphscope_spark.algorithms.wcc import wcc

    g = make_graph(spark, [(0, 1), (2, 3)], vertices=[0, 1, 2, 3])
    prev = wcc(g)
    # delta introduces vertices 4,5 and merges the two components via 4
    ddf = spark.createDataFrame(
        [(1, 4), (4, 2), (5, 5 + 100)], "src long, dst long"
    )
    got = _rows(wcc_delta(g, ddf, prev))
    want = _rows(wcc(g.add_edges(ddf)))
    assert got == want
    comp = dict((r[0], r[1]) for r in got)
    assert comp[0] == comp[3] == 0  # merged through the new vertex 4


def test_sssp_delta_equals_full(spark):
    from graphscope_spark.algorithms.traversal import sssp

    n = 40
    base = _rand_edges(n, 60, seed=3)
    random.seed(17)
    basew = [(a, b, 1.0 + (a * 7 + b) % 5) for a, b in base]
    delta = [e for e in _rand_edges(n, 10, seed=55) if e not in set(base)]
    deltaw = [(a, b, 0.5) for a, b in delta]  # short edges → real improvements
    g = make_graph(spark, basew, vertices=list(range(n)), weights=True)
    prev = sssp(g, 0)
    ddf = spark.createDataFrame(deltaw, "src long, dst long, weight double")
    got = _rows(sssp_delta(g, ddf, prev, 0))
    want = _rows(sssp(g.add_edges(ddf), 0))
    assert got == want


def test_bfs_delta_equals_full(spark):
    from graphscope_spark.algorithms.traversal import bfs

    n = 40
    base = _rand_edges(n, 55, seed=23)
    delta = [e for e in _rand_edges(n, 10, seed=77) if e not in set(base)]
    g = make_graph(spark, base, vertices=list(range(n)))
    prev = bfs(g, 0)
    ddf = spark.createDataFrame(delta, "src long, dst long")
    got = _rows(bfs_delta(g, ddf, prev, 0))
    want = _rows(bfs(g.add_edges(ddf), 0))
    assert got == want


def test_bfs_delta_unreachable_island_connected(spark):
    from graphscope_spark.algorithms.traversal import bfs

    # base: 0→1→2 and island 10→11 (unreachable); delta connects 2→10
    g = make_graph(spark, [(0, 1), (1, 2), (10, 11)], vertices=[0, 1, 2, 10, 11])
    prev = bfs(g, 0)
    ddf = spark.createDataFrame([(2, 10)], "src long, dst long")
    got = dict((r[0], r[1]) for r in bfs_delta(g, ddf, prev, 0).collect())
    assert got == {0: 0, 1: 1, 2: 2, 10: 3, 11: 4}


def test_warm_start_fewer_rounds_on_chain(spark):
    """The Ingress payoff: extending a long converged chain by one edge
    converges in O(1) rounds, not O(diameter)."""
    from graphscope_spark.algorithms.wcc import wcc

    n = 60
    chain = [(i, i + 1) for i in range(n - 1)]
    g = make_graph(spark, chain, vertices=list(range(n)))
    full = wcc(g.add_edges(
        spark.createDataFrame([(n - 1, n)], "src long, dst long")
    ), return_result=True)
    prev = wcc(g)
    from pyspark.sql import functions as F

    g2 = g.add_edges(spark.createDataFrame([(n - 1, n)], "src long, dst long"))
    state = (
        g2.vertices.select("id")
        .join(prev.select("id", F.col("component").alias("label")), "id", "left")
        .select(
            "id",
            F.coalesce("label", F.col("id")).alias("label"),
            (F.col("id") >= n - 1).alias("changed"),
        )
    )
    warm = wcc(g2, warm_start=state, return_result=True)
    assert warm.rounds < full.rounds / 4
    assert _rows(warm.state.select("id", "label")) == _rows(
        full.state.select("id", "label")
    )


def test_bfs_warm_start_fewer_rounds_on_chain(spark):
    """bfs must honor warm_start (it silently ignored it once): extending a
    converged chain converges in O(1) rounds, not O(length)."""
    from pyspark.sql import functions as F

    from graphscope_spark.algorithms.traversal import bfs

    n = 50
    chain = [(i, i + 1) for i in range(n - 1)]
    g = make_graph(spark, chain, vertices=list(range(n)))
    prev = bfs(g, 0)
    ddf = spark.createDataFrame([(n - 1, n)], "src long, dst long")
    g2 = g.add_edges(ddf)
    full = bfs(g2, 0, return_result=True)
    state = (
        g2.vertices.select("id")
        .join(prev.select("id", F.col("depth").alias("pdepth")), "id", "left")
        .select(
            "id",
            F.coalesce("pdepth", F.lit(-1)).cast("int").alias("depth"),
            (F.col("id") == n - 1).alias("changed"),
        )
    )
    warm = bfs(g2, 0, return_result=True, warm_start=state)
    assert warm.rounds < full.rounds / 4
    assert _rows(warm.state.select("id", "depth")) == _rows(
        full.state.select("id", "depth")
    )


def test_pagerank_delta_matches_full_and_saves_rounds(spark):
    from graphscope_spark.algorithms.pagerank import pagerank
    from graphscope_spark.engine.ingress import pagerank_delta

    n = 60
    base = _rand_edges(n, 150, seed=21)
    delta = [e for e in _rand_edges(n, 8, seed=77) if e not in set(base)]
    g = make_graph(spark, base, vertices=list(range(n)))
    prev = pagerank(g, tol=1e-10)
    ddf = spark.createDataFrame(delta, "src long, dst long")

    warm = {r["id"]: r["pagerank"] for r in
            pagerank_delta(g, ddf, prev, tol=1e-10).collect()}
    cold = {r["id"]: r["pagerank"] for r in
            pagerank(g.add_edges(ddf), tol=1e-10).collect()}
    assert set(warm) == set(cold)
    for v in warm:
        assert abs(warm[v] - cold[v]) < 1e-6, (v, warm[v], cold[v])

    # the point of the warm start: fewer power-iteration rounds than cold
    g2 = g.add_edges(ddf)
    r_warm = pagerank(g2, tol=1e-8, init_ranks=prev, return_result=True)
    r_cold = pagerank(g2, tol=1e-8, return_result=True)
    assert r_warm.converged and r_cold.converged
    assert r_warm.rounds < r_cold.rounds, (r_warm.rounds, r_cold.rounds)


def test_wcc_delta_delete_splits_component(spark):
    from graphscope_spark.algorithms.wcc import wcc
    from graphscope_spark.engine.ingress import wcc_delta_delete

    # two components: {0-1-2-3} (a chain) and {10-11}; deleting (1,2)
    # splits the first into {0,1} and {2,3}; {10,11} must be untouched
    g = make_graph(
        spark, [(0, 1), (1, 2), (2, 3), (10, 11)],
        vertices=[0, 1, 2, 3, 10, 11],
    )
    prev = wcc(g)
    ddf = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = _rows(wcc_delta_delete(g, ddf, prev))
    want = _rows(wcc(g.remove_edges(ddf)))
    assert got == want
    comp = dict(got)
    assert comp[2] == 2 and comp[3] == 2 and comp[0] == 0 and comp[1] == 0
    assert comp[10] == 10 and comp[11] == 10


def test_wcc_delta_delete_random_equals_full(spark):
    from graphscope_spark.algorithms.wcc import wcc
    from graphscope_spark.engine.ingress import wcc_delta_delete

    n = 40
    base = _rand_edges(n, 55, seed=5)
    dels = random.Random(21).sample(base, 10)
    g = make_graph(spark, base, vertices=list(range(n)))
    prev = wcc(g)
    ddf = spark.createDataFrame(dels, "src long, dst long")
    got = _rows(wcc_delta_delete(g, ddf, prev))
    want = _rows(wcc(g.remove_edges(ddf)))
    assert got == want


def test_wcc_delta_delete_nonsplitting_keeps_labels(spark):
    from graphscope_spark.algorithms.wcc import wcc
    from graphscope_spark.engine.ingress import wcc_delta_delete

    # deleting one edge of a triangle does not split it
    g = make_graph(spark, [(0, 1), (1, 2), (0, 2)], vertices=[0, 1, 2])
    prev = wcc(g)
    ddf = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = _rows(wcc_delta_delete(g, ddf, prev))
    assert got == _rows(prev)


def _rand_wedges(n, m, seed):
    random.seed(seed)
    edges = {}
    while len(edges) < m:
        a, b = random.randrange(n), random.randrange(n)
        if a != b:
            edges[(a, b)] = float(1 + (a * 7 + b * 13) % 5)
    return sorted((a, b, w) for (a, b), w in edges.items())


def test_sssp_delta_delete_random_equals_full(spark):
    from graphscope_spark.algorithms.traversal import sssp
    from graphscope_spark.engine.ingress import sssp_delta_delete

    n = 40
    base = _rand_wedges(n, 80, seed=13)
    dels = [(a, b) for a, b, _ in random.Random(3).sample(base, 15)]
    g = make_graph(spark, base, vertices=list(range(n)), weights=True)
    prev = sssp(g, 0)
    ddf = spark.createDataFrame(dels, "src long, dst long")
    got = _rows(sssp_delta_delete(g, ddf, prev, 0))
    want = _rows(sssp(g.remove_edges(ddf), 0))
    assert got == want


def test_sssp_delta_delete_unreachable_after(spark):
    from graphscope_spark.algorithms.traversal import sssp
    from graphscope_spark.engine.ingress import sssp_delta_delete

    # 0 -> 1 -> 2; deleting (1,2) makes 2 unreachable
    g = make_graph(
        spark, [(0, 1, 1.0), (1, 2, 1.0)], vertices=[0, 1, 2], weights=True
    )
    prev = sssp(g, 0)
    ddf = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = dict(_rows(sssp_delta_delete(g, ddf, prev, 0)))
    assert got[2] is None and got[1] == 1.0 and got[0] == 0.0


def test_sssp_delta_delete_nontight_noop(spark):
    from graphscope_spark.algorithms.traversal import sssp
    from graphscope_spark.engine.ingress import sssp_delta_delete

    # deleting a non-shortest-path edge changes nothing (empty cone path)
    g = make_graph(
        spark, [(0, 1, 1.0), (0, 2, 5.0), (1, 2, 1.0)],
        vertices=[0, 1, 2], weights=True,
    )
    prev = sssp(g, 0)  # dist 2 = 2.0 via 1; edge (0,2) w=5 is slack
    ddf = spark.createDataFrame([(0, 2)], "src long, dst long")
    got = _rows(sssp_delta_delete(g, ddf, prev, 0))
    assert got == _rows(prev)


def test_sssp_delta_delete_reroute_longer(spark):
    from graphscope_spark.algorithms.traversal import sssp
    from graphscope_spark.engine.ingress import sssp_delta_delete

    # deleting the tight edge forces the longer alternative route
    g = make_graph(
        spark, [(0, 1, 1.0), (0, 2, 5.0), (1, 2, 1.0), (2, 3, 1.0)],
        vertices=[0, 1, 2, 3], weights=True,
    )
    prev = sssp(g, 0)  # 2 -> 2.0 via 1, 3 -> 3.0
    ddf = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = dict(_rows(sssp_delta_delete(g, ddf, prev, 0)))
    assert got[2] == 5.0 and got[3] == 6.0 and got[1] == 1.0


def test_bfs_delta_delete_random_equals_full(spark):
    from graphscope_spark.algorithms.traversal import bfs
    from graphscope_spark.engine.ingress import bfs_delta_delete

    n = 40
    base = _rand_edges(n, 70, seed=17)
    dels = random.Random(8).sample(base, 14)
    ddf = spark.createDataFrame(dels, "src long, dst long")
    kept = sorted(set(base) - set(dels))
    oracle = sorted(bfs_oracle(list(range(n)), kept, 0).items())
    # a non-unit weight column must not change BFS depths (unit-weight sssp)
    wbase = [(a, b, 1.0 + (a * 7 + b) % 5) for a, b in base]
    for g in (
        make_graph(spark, base, vertices=list(range(n))),
        make_graph(spark, wbase, vertices=list(range(n)), weights=True),
    ):
        prev = bfs(g, 0)
        got = _rows(bfs_delta_delete(g, ddf, prev, 0))
        want = _rows(bfs(g.remove_edges(ddf), 0))
        assert got == want
        assert got == oracle


def test_bfs_delta_delete_unreachable_after(spark):
    from graphscope_spark.algorithms.traversal import bfs
    from graphscope_spark.engine.ingress import bfs_delta_delete

    g = make_graph(spark, [(0, 1), (1, 2)], vertices=[0, 1, 2])
    prev = bfs(g, 0)
    ddf = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = dict(_rows(bfs_delta_delete(g, ddf, prev, 0)))
    assert got[2] == -1 and got[1] == 1 and got[0] == 0


def test_sssp_delta_delete_cone_cap_falls_back_to_full(spark):
    from graphscope_spark.algorithms.traversal import sssp
    from graphscope_spark.engine.ingress import sssp_delta_delete

    # 0->1->...->9 chain; deleting (0,1) invalidates a 9-deep cone. With
    # max_cone_iter too small the closure cannot finish — the kernel must
    # fall back to the cold recompute, never return stale distances for the
    # vertices outside the partial cone.
    chain = [(i, i + 1, 1.0) for i in range(9)]
    g = make_graph(spark, chain, vertices=list(range(10)), weights=True)
    prev = sssp(g, 0)
    ddf = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = _rows(sssp_delta_delete(g, ddf, prev, 0, max_cone_iter=2))
    want = _rows(sssp(g.remove_edges(ddf), 0))
    assert got == want


def test_bfs_delta_delete_cone_cap_falls_back_to_full(spark):
    from graphscope_spark.algorithms.traversal import bfs
    from graphscope_spark.engine.ingress import bfs_delta_delete

    chain = [(i, i + 1) for i in range(9)]
    g = make_graph(spark, chain, vertices=list(range(10)))
    prev = bfs(g, 0)
    ddf = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = _rows(bfs_delta_delete(g, ddf, prev, 0, max_cone_iter=2))
    want = _rows(bfs(g.remove_edges(ddf), 0))
    assert got == want


def test_sssp_delta_delete_zero_weight_edge_into_source(spark):
    from graphscope_spark.algorithms.traversal import sssp
    from graphscope_spark.engine.ingress import sssp_delta_delete

    # (1, 0) has weight 0 and is tight (dist 1 = 0 via the 0-weight cycle):
    # deleting it must NOT pull the source into the cone — its distance 0
    # can never be invalidated by an edge deletion.
    g = make_graph(
        spark, [(0, 1, 0.0), (1, 0, 0.0), (0, 2, 1.0)],
        vertices=[0, 1, 2], weights=True,
    )
    prev = sssp(g, 0)
    ddf = spark.createDataFrame([(1, 0)], "src long, dst long")
    got = dict(_rows(sssp_delta_delete(g, ddf, prev, 0)))
    assert got[0] == 0.0 and got[1] == 0.0 and got[2] == 1.0
