"""The NumPy oracles agree with the reference oracles in tests/oracles.py on
the FIXTURES graphs and a seeded mid-size random graph, and the benchmark's
checks reject a perturbed result.

    python3 -m pytest perfbench/test_oracles.py -q
"""

from __future__ import annotations

import importlib.util
import os
import random

import numpy as np
import pytest

from perfbench import oracles
from perfbench.workloads import exact_ok, pagerank_ok

TESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")


def _load(name: str, file: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(TESTS, file))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ref = _load("reference_oracles", "oracles.py")
fixtures = _load("reference_fixtures", "conftest.py")


def _random_graph(n=1000, m=12000, seed=42):
    rng = random.Random(seed)
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    return list(range(n)), sorted((a, b) for a, b in edges if a != b)


GRAPHS = {
    "diamond": fixtures.DIAMOND,
    "two_components": fixtures.TWO_COMPONENTS,
    "dangling_chain": fixtures.DANGLING_CHAIN,
    "star_hub": fixtures.STAR_HUB,
    "ring_ties": fixtures.RING_TIES,
    "tri_cluster": fixtures.TRI_CLUSTER,
    "p2p_mid": _random_graph(),
}


def _arrays(vertices, edges):
    v = np.array(sorted(vertices), dtype=np.int64)
    e = np.array(edges, dtype=np.int64).reshape(-1, 2)
    return v, e[:, 0], e[:, 1]


def _aligned(v, d):
    return np.array([d[int(x)] for x in v])


@pytest.fixture(params=sorted(GRAPHS))
def graph(request):
    return _arrays(*GRAPHS[request.param]), GRAPHS[request.param]


@pytest.mark.parametrize("tol,rounds", [(1e-6, None), (0.0, 10)])
def test_pagerank_matches_reference(graph, tol, rounds):
    (v, s, d), (vertices, edges) = graph
    want = _aligned(v, ref.pagerank_oracle(vertices, edges, tol=tol, fixed_rounds=rounds))
    got = oracles.pagerank(v, s, d, tol=tol, max_iter=rounds or 100)
    assert pagerank_ok(v, got, v, want)


def test_wcc_matches_reference(graph):
    (v, s, d), (vertices, edges) = graph
    assert exact_ok(v, oracles.wcc(v, s, d), v, _aligned(v, ref.wcc_oracle(vertices, edges)))


def test_cdlp_matches_reference(graph):
    (v, s, d), (vertices, edges) = graph
    want = _aligned(v, ref.cdlp_oracle(vertices, edges, rounds=10))
    assert exact_ok(v, oracles.cdlp(v, s, d, 10), v, want)


def test_triangles_matches_reference(graph):
    (v, s, d), (vertices, edges) = graph
    want = _aligned(v, ref.triangles_oracle(vertices, edges))
    assert exact_ok(v, oracles.triangles(v, s, d), v, want)


def test_warm_start_reaches_the_cold_fixpoint():
    v, s, d = _arrays(*GRAPHS["p2p_mid"])
    cold = oracles.pagerank(v, s, d, tol=1e-12, max_iter=500)
    x0 = oracles.warm_start(v, v[:500], np.full(500, 1.0 / 500))
    warm, rounds = oracles.pagerank_rounds(v, s, d, x0, 1e-12, 500)
    assert rounds < 500 and np.allclose(warm, cold, rtol=1e-6, atol=0)


def test_perturbed_results_are_caught():
    v, s, d = _arrays(*GRAPHS["p2p_mid"])
    pr = oracles.pagerank(v, s, d)
    bad = pr.copy()
    bad[7] *= 1 + 1e-4
    assert pagerank_ok(v, pr, v, pr) and not pagerank_ok(v, bad, v, pr)
    assert not pagerank_ok(v[:-1], pr[:-1], v, pr)  # a vertex missing

    for labels in (oracles.wcc(v, s, d), oracles.cdlp(v, s, d), oracles.triangles(v, s, d)):
        bad = labels.copy()
        bad[3] += 1
        assert exact_ok(v, labels, v, labels) and not exact_ok(v, bad, v, labels)


def test_missing_endpoint_is_an_error():
    v = np.array([1, 2, 3], dtype=np.int64)
    with pytest.raises(ValueError):
        oracles.wcc(v, np.array([1]), np.array([4]))
