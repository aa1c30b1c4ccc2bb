"""Brandes betweenness vs networkx and a pure-python replay."""

from __future__ import annotations

import math
import random
from collections import deque

import networkx as nx
import pytest

from linkgraph.algorithms import betweenness
from tests.conftest import make_graph


def _nx(edges):
    g = nx.Graph()
    g.add_edges_from(edges)
    return g


def _random(seed, n=25, m=60):
    rng = random.Random(seed)
    return sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)})


def _brandes(edges, sources):
    """Pure-python Brandes accumulation from the given sources."""
    g = _nx(edges)
    bc = {v: 0.0 for v in g.nodes}
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in g[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] = sigma.get(w, 0) + sigma[v]
        delta = {v: 0.0 for v in order}
        for w in reversed(order):
            for v in g[w]:
                if dist.get(v, -2) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


@pytest.mark.parametrize("seed", [2, 6])
def test_betweenness_all_sources_is_2x_networkx(spark, seed):
    edges = _random(seed)
    g = make_graph(spark, edges)
    nodes = sorted({v for e in edges for v in e})
    srcs = spark.createDataFrame([(v,) for v in nodes], "s long")
    out, info = betweenness(g, sources=srcs)
    assert info.converged
    expected = nx.betweenness_centrality(_nx(edges), normalized=False)
    rows = {r["id"]: r["betweenness"] for r in out.collect()}
    assert set(rows) == set(expected)
    for v, b in expected.items():
        assert math.isclose(rows[v], 2.0 * b, rel_tol=1e-9, abs_tol=1e-9)


def test_betweenness_sampled_sources_matches_replay(spark):
    edges = _random(4)
    g = make_graph(spark, edges)
    out, _ = betweenness(g, num_sources=5)
    # replicate the pinned pivot rule: top degree, ties by id
    nxg = _nx(edges)
    pivots = [v for v, _ in sorted(nxg.degree, key=lambda t: (-t[1], t[0]))[:5]]
    expected = _brandes(edges, pivots)
    rows = {r["id"]: r["betweenness"] for r in out.collect()}
    assert set(rows) == set(expected)
    for v, b in expected.items():
        assert math.isclose(rows[v], b, rel_tol=1e-9, abs_tol=1e-9)


def test_betweenness_path_graph_exact(spark):
    # path 0-1-2-3-4, all sources: interior vertex v has bc
    # 2*(#pairs through it): v=2 → pairs {0,1}x{3,4} + ... = known form
    edges = [(i, i + 1) for i in range(4)]
    g = make_graph(spark, edges)
    srcs = g.vertices.selectExpr("id as s")
    out, _ = betweenness(g, sources=srcs)
    rows = {r["id"]: r["betweenness"] for r in out.collect()}
    expected = nx.betweenness_centrality(_nx(edges), normalized=False)
    for v, b in expected.items():
        assert math.isclose(rows[v], 2.0 * b, rel_tol=1e-12)
    assert rows[0] == 0.0 and rows[4] == 0.0


def test_betweenness_disconnected_and_star(spark):
    edges = [(0, i) for i in range(1, 6)] + [(10, 11)]
    g = make_graph(spark, edges)
    srcs = g.vertices.selectExpr("id as s")
    out, _ = betweenness(g, sources=srcs)
    rows = {r["id"]: r["betweenness"] for r in out.collect()}
    expected = nx.betweenness_centrality(_nx(edges), normalized=False)
    for v, b in expected.items():
        assert math.isclose(rows[v], 2.0 * b, rel_tol=1e-12, abs_tol=1e-12)


def test_betweenness_past_bigint_path_counts(spark):
    """A source, then 17 layers of 16 vertices with consecutive layers
    complete bipartite: a layer-k vertex has 16^(k-1) shortest paths
    from the source, 16^16 = 2^64 in the last layer — past what a
    BIGINT sum holds. Every σ is a power of two, so the double σ stays
    exact, and from that one source each layer-k vertex has betweenness
    exactly 17 - k (it carries 1/16 of each of the 16 dependencies of
    the layer above)."""
    width, depth = 16, 17

    def layer(k):
        return [0] if k == 0 else [k * width + i for i in range(width)]

    edges = [
        (u, v) for k in range(depth) for u in layer(k) for v in layer(k + 1)
    ]
    g = make_graph(spark, edges)
    out, info = betweenness(
        g, sources=spark.createDataFrame([(0,)], "s long"), max_hops=depth + 1
    )
    assert info.converged
    rows = {r["id"]: r["betweenness"] for r in out.collect()}
    assert rows[0] == 0.0
    for k in range(1, depth + 1):
        assert {rows[v] for v in layer(k)} == {float(depth - k)}, f"layer {k}"
