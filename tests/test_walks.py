"""Deterministic random walks vs an exact pure-python replay."""

from __future__ import annotations

import hashlib
import random

import pytest

from linkgraph.algorithms import random_walks
from tests.conftest import make_graph

CASES = {
    "path": [(0, 1), (1, 2), (2, 3)],
    "star": [(0, i) for i in range(1, 8)],
    "cycle+chord": [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)],
}


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _adj(edges):
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    return adj


def _replay(edges, walk_length, num_walks=1, seed=0):
    """Exact replay of the portable-mode walk rule."""
    adj = _adj(edges)
    rows = set()
    for v0 in sorted(adj):
        for r in range(num_walks):
            walk = v0 * num_walks + r
            rows.add((walk, 0, v0))
            v = v0
            for t in range(1, walk_length + 1):
                v = min(
                    adj[v],
                    key=lambda n: (_h(f"{walk}:{t}:{n}:{seed}"), n),
                )
                rows.add((walk, t, v))
    return rows


@pytest.mark.parametrize("name", sorted(CASES))
def test_walks_match_python_replay(spark, name):
    edges = CASES[name]
    g = make_graph(spark, edges)
    got = {
        tuple(r)
        for r in random_walks(
            g, walk_length=6, hash_mode="portable"
        ).collect()
    }
    assert got == _replay(edges, 6)


def test_walks_match_replay_random_graph_multiwalk(spark):
    rng = random.Random(11)
    edges = sorted({tuple(sorted(rng.sample(range(30), 2))) for _ in range(70)})
    g = make_graph(spark, edges)
    got = {
        tuple(r)
        for r in random_walks(
            g, walk_length=5, num_walks=3, seed=42, hash_mode="portable"
        ).collect()
    }
    assert got == _replay(edges, 5, num_walks=3, seed=42)


def test_walks_xxhash_mode_valid_and_deterministic(spark, monkeypatch):
    from linkgraph.algorithms import walks

    # a lineage cut every 2 steps, so a 4-step walk cuts mid-walk
    monkeypatch.setattr(walks, "CHECKPOINT_EVERY", 2)
    edges = sorted(
        {tuple(sorted(random.Random(3).sample(range(25), 2))) for _ in range(60)}
    )
    g = make_graph(spark, edges)
    adj = _adj(edges)
    rows = random_walks(g, walk_length=4).collect()
    by_walk: dict[int, dict[int, int]] = {}
    for r in rows:
        by_walk.setdefault(r["walk"], {})[r["step"]] = r["vertex"]
    assert set(by_walk) == set(adj)
    for w, steps in by_walk.items():
        assert sorted(steps) == list(range(5))  # full length, no gaps
        assert steps[0] == w
        for t in range(1, 5):
            assert steps[t] in adj[steps[t - 1]]  # consecutive = edge
    again = {tuple(r) for r in random_walks(g, walk_length=4).collect()}
    assert again == {tuple(r) for r in rows}


def test_walks_stop_at_isolated_start(spark):
    g = make_graph(spark, [(0, 1)], extra_vertices=[5])
    rows = {
        tuple(r)
        for r in random_walks(g, walk_length=3, hash_mode="portable").collect()
    }
    # vertex 5 contributes only its step-0 row; 0/1 ping-pong for 3 steps
    assert (5, 0, 5) in rows
    assert all(w != 5 or s == 0 for (w, s, _) in rows)
    assert {(0, 1, 1), (0, 2, 0), (0, 3, 1), (1, 1, 0)} <= rows


def test_walks_validate_args(spark):
    g = make_graph(spark, [(0, 1)])
    with pytest.raises(ValueError):
        random_walks(g, walk_length=-1)
    with pytest.raises(ValueError):
        random_walks(g, walk_length=1, num_walks=0)
