"""Golden small-graph tests — exact committed numbers (FIXTURES.md §3)."""

from __future__ import annotations

import numpy as np
import networkx as nx

from linkgraph import fixtures as FX
from linkgraph.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
    sssp,
    triangle_counts,
)
from linkgraph.algorithms.triangles import triangles_sql_plan


def ranks_of(state_df, n):
    rows = {r["id"]: r["rank"] for r in state_df.collect()}
    return np.array([rows[i] for i in range(n)])


def test_g1_pagerank(graph_builder):
    g = graph_builder(FX.G1_EDGES)
    state, info = pagerank(g, tol=1e-9, max_supersteps=100)
    r = ranks_of(state, 4)
    assert np.allclose(r, FX.G1_PR, atol=1e-6)
    assert info.converged
    assert abs(r.sum() - 1.0) < 1e-9


def test_g1b_dangling_drop(graph_builder):
    g = graph_builder(FX.G1B_EDGES, extra_vertices=[3])
    state, info = pagerank(g, tol=1e-9, dangling="drop")
    r = ranks_of(state, 4)
    assert np.allclose(r, FX.G1B_PR_DROP, atol=1e-6)
    assert abs(r.sum() - 0.7875) < 1e-6


def test_g1b_dangling_redistribute(graph_builder):
    g = graph_builder(FX.G1B_EDGES, extra_vertices=[3])
    state, info = pagerank(g, tol=1e-9, dangling="redistribute")
    r = ranks_of(state, 4)
    assert np.allclose(r, FX.G1B_PR_REDIST, atol=1e-6)
    assert abs(r.sum() - 1.0) < 1e-6


def test_g2_components(graph_builder):
    g = graph_builder(FX.G2_EDGES)
    state, info = connected_components(g)
    got = {r["id"]: r["comp"] for r in state.collect()}
    assert got == FX.G2_COMPONENTS
    assert info.converged


def test_g2_triangles(graph_builder):
    g = graph_builder(FX.G2_EDGES)
    per_vertex, total, _ = triangle_counts(g)
    got = {r["id"]: r["triangles"] for r in per_vertex.collect()}
    assert got == FX.G2_TRIANGLES
    assert total == 1
    sql_total = triangles_sql_plan(g).first()["triangles"]
    assert sql_total == 1


def test_g2_lpa_parity_of_max_iter(graph_builder):
    g = graph_builder(FX.G2_EDGES)
    # odd max_iter → 3,4 oscillation lands on [..,4,3] (FIXTURES.md G2)
    state, _ = label_propagation(g, max_iter=5, early_stop=False)
    got = {r["id"]: r["label"] for r in state.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 4, 4: 3}
    oracle = FX.lpa_python(FX.G2_EDGES, 5, max_iter=5)
    assert got == oracle
    state, _ = label_propagation(g, max_iter=6, early_stop=False)
    got = {r["id"]: r["label"] for r in state.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}


def test_g4_karate_pagerank_and_triangles(graph_builder):
    G = nx.karate_club_graph()
    edges = [(u, v) for u, v in G.edges()] + [(v, u) for u, v in G.edges()]
    g = graph_builder(edges)
    state, info = pagerank(g, tol=1e-9)
    r = ranks_of(state, 34)
    assert np.allclose(
        r[:5], [0.09699729, 0.05287692, 0.05707851, 0.03585986, 0.02197795], atol=1e-6
    )
    top3 = list(np.argsort(-r)[:3])
    assert top3 == [33, 0, 32]
    per_vertex, total, _ = triangle_counts(g)
    assert total == 45
    nx_tri = nx.triangles(G)
    got = {row["id"]: row["triangles"] for row in per_vertex.collect()}
    assert got == nx_tri


def test_g3_star(graph_builder):
    g = graph_builder(FX.g3_star_edges(100))
    state, _ = connected_components(g)
    comps = {r["comp"] for r in state.collect()}
    assert comps == {0}
    _, total, _ = triangle_counts(g)
    assert total == 4


def test_sssp_chain(graph_builder):
    g = graph_builder([(0, 1), (1, 2), (2, 3), (0, 3), (4, 0)])
    state, info = sssp(g, source=0)
    got = {r["id"]: r["dist"] for r in state.collect()}
    assert got[0] == 0.0 and got[1] == 1.0 and got[2] == 2.0 and got[3] == 1.0
    assert got[4] == float("inf")
    assert info.converged


def test_empty_graph_rejected(spark):
    import pytest

    from linkgraph.algorithms import pagerank
    from linkgraph.csr import pagerank_csr
    from linkgraph.graph import Graph

    empty = spark.createDataFrame([], "src long, dst long")
    g = Graph.prepare(empty)
    with pytest.raises(ValueError, match="empty graph"):
        pagerank(g)
    with pytest.raises(ValueError, match="empty graph"):
        pagerank_csr(g)


def test_clustering_coefficient_matches_networkx(graph_builder):
    import networkx as nx

    from linkgraph.algorithms.triangles import clustering_coefficient

    G = nx.karate_club_graph()
    edges = [(u, v) for u, v in G.edges()]
    g = graph_builder(edges)
    got = {r["id"]: r["cc"] for r in clustering_coefficient(g).collect()}
    want = nx.clustering(G)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v


def test_personalized_pagerank_matches_numpy(graph_builder):
    """PPR (teleport to a source set, dangling mass dropped) vs a NumPy
    power iteration on a directed graph WITH a dangling vertex, so the
    drop semantics are exercised; also checks locality: mass
    concentrates near the sources, and a vertex unreachable from them
    (with zero preference) scores 0."""
    from linkgraph.algorithms import personalized_pagerank

    # 0→1→2→0 cycle, 1→3 (3 dangling), 4→0 (4 unreachable from {0,1})
    edges = [(0, 1), (1, 2), (2, 0), (1, 3), (4, 0)]
    g = graph_builder(edges)
    state, info = personalized_pagerank(g, [0, 1], d=0.85, tol=1e-12)
    assert info.converged
    got = {r["id"]: r["rank"] for r in state.collect()}
    r = np.array([got[i] for i in range(5)])

    n, d = 5, 0.85
    p = np.zeros(n)
    p[[0, 1]] = 0.5
    M = np.zeros((n, n))  # column-stochastic; dangling column stays 0
    outdeg = {0: 1, 1: 2, 2: 1, 4: 1}
    for s, t in edges:
        M[t, s] = 1.0 / outdeg[s]
    want = p.copy()
    for _ in range(10000):
        nxt = (1 - d) * p + d * (M @ want)
        if np.abs(nxt - want).sum() < 1e-15:
            break
        want = nxt
    assert np.allclose(r, want, atol=1e-10)
    assert got[4] == 0.0  # no preference, unreachable from sources
    assert got[0] + got[1] > got[2] + got[3]  # mass stays near sources


def test_bipartite_matching_is_valid_maximal_and_deterministic(spark, graph_builder):
    """Paper §5.3 as a spec: the result must be (a) a valid matching —
    mutual partners along real edges, each vertex used once; (b)
    MAXIMAL — no edge is left with both endpoints unmatched; (c)
    deterministic across runs (min-id choices replace the paper's
    randomness). Seeded random bipartite graphs + the star worst case."""
    import random

    from linkgraph.algorithms import bipartite_matching
    from linkgraph.graph import Graph

    def check(edges):
        edf = spark.createDataFrame(edges, "src long, dst long")
        g = Graph(
            edges=edf,
            vertices=edf.selectExpr("src AS id").union(edf.selectExpr("dst")).distinct(),
            num_vertices=0,
            num_edges=len(edges),
        )
        state, info = bipartite_matching(g)
        rows = {r["id"]: (r["side"], r["match"]) for r in state.collect()}
        eset = set(edges)
        matched = {i: m for i, (s, m) in rows.items() if m is not None}
        for i, m in matched.items():
            assert matched.get(m) == i  # mutual
            a, b = (i, m) if rows[i][0] == 0 else (m, i)
            assert (a, b) in eset  # along a real edge
        for a, b in edges:  # maximality
            assert a in matched or b in matched
        again, _ = bipartite_matching(g)
        assert {r["id"]: r["match"] for r in again.collect()} == {
            i: rows[i][1] for i in rows
        }
        return info

    rng = random.Random(5)
    for trial in range(3):
        edges = sorted(
            {
                (rng.randrange(0, 30), 100 + rng.randrange(0, 30))
                for _ in range(60)
            }
        )
        check(edges)
    # star: many lefts fight over one right — exactly one match survives
    info = check([(i, 100) for i in range(10)])
    assert info.converged

    # non-bipartite input (id on both sides) must be rejected
    import pytest

    bad = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    g = Graph(edges=bad, vertices=bad.selectExpr("src AS id").union(bad.selectExpr("dst")).distinct(), num_vertices=0, num_edges=2)
    with pytest.raises(ValueError, match="both src and dst"):
        bipartite_matching(g)


def test_kcore_matches_networkx(graph_builder):
    """k-core via delta peeling waves == networkx core_number for every
    k, INCLUDING the in-core degree (degree within the induced core),
    on seeded random graphs; isolated extra vertices die in wave 1."""
    import random

    import networkx as nx

    from linkgraph.algorithms import kcore

    rng = random.Random(11)
    edges = set()
    while len(edges) < 140:
        a, b = rng.randrange(50), rng.randrange(50)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    G = nx.Graph(edges)
    cn = nx.core_number(G)
    g = graph_builder(sorted(edges), extra_vertices=(900,))
    for k in (1, 2, 3, 4, 5):
        state, info = kcore(g, k)
        rows = state.collect()
        got = {r["id"] for r in rows if r["alive"]}
        want = {v for v, c in cn.items() if c >= k}
        assert got == want, f"k={k}"
        sub = G.subgraph(want)
        got_deg = {r["id"]: r["deg"] for r in rows if r["alive"]}
        assert got_deg == {v: sub.degree(v) for v in want}, f"k={k} core degs"
        assert 900 not in got  # isolated vertex peels immediately
        assert info.converged


def test_kcore_rejects_bad_k(graph_builder):
    import pytest

    from linkgraph.algorithms import kcore

    with pytest.raises(ValueError, match="k must be >= 1"):
        kcore(graph_builder([(0, 1)]), 0)


def test_core_number_matches_networkx(graph_builder):
    """Full core decomposition in ONE run (h-index fixpoint) ==
    networkx core_number on seeded random graphs; the degeneracy
    aggregator equals the max core number; {core >= k} == the k-core
    peeling result (the two formulations agree on the fixpoint)."""
    import random

    import networkx as nx

    from linkgraph.algorithms import core_number, kcore

    for seed, n, m in ((11, 50, 140), (7, 40, 60), (23, 30, 170)):
        rng = random.Random(seed)
        edges = set()
        while len(edges) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        G = nx.Graph(edges)
        cn = nx.core_number(G)
        g = graph_builder(sorted(edges))
        state, info = core_number(g)
        got = {r["id"]: r["core"] for r in state.collect()}
        assert got == cn, f"seed={seed}"
        assert info.converged
        assert info.log[-1].aggregates["degeneracy"] == max(cn.values())
        # cross-check against the fixed-k peeling formulation
        k = max(cn.values())
        alive, _ = kcore(g, k)
        assert {r["id"] for r in alive.collect() if r["alive"]} == {
            v for v, c in got.items() if c >= k
        }


def test_core_number_golden_path_and_clique():
    """Hand-checked fixtures: a path has core 1 everywhere; a K5 plus a
    pendant vertex has core 4 in the clique and 1 at the pendant."""
    from tests.conftest import make_graph

    from linkgraph.algorithms import core_number

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    path = make_graph(spark, [(i, i + 1) for i in range(6)])
    state, _ = core_number(path)
    assert {r["core"] for r in state.collect()} == {1}

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)] + [(4, 99)]
    g = make_graph(spark, k5)
    got = {r["id"]: r["core"] for r in core_number(g)[0].collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4, 99: 1}


def _py_semicluster(edges, c_max, m_max, f_b, max_iter):
    """Pure-python replay of semiclustering.py's pinned schedule."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    verts = sorted(adj)

    def score(ic, bc, n):
        return 0.0 if n <= 1 else (ic - f_b * bc) / (n * (n - 1) / 2.0)

    state = {v: [((v,), 0, len(adj[v]))] for v in verts}
    for _ in range(max_iter):
        incoming = collections.defaultdict(list)
        for u in verts:
            for nbr in adj[u]:
                incoming[nbr].extend(state[u])
        new, any_changed = {}, False
        for v in verts:
            seen = {mem: (ic, bc) for mem, ic, bc in state[v]}
            for mem, ic, bc in incoming[v]:
                if v in mem:
                    seen.setdefault(mem, (ic, bc))
                elif len(mem) < m_max:
                    inter = len(set(mem) & adj[v])
                    nm = tuple(sorted(mem + (v,)))
                    seen.setdefault(
                        nm, (ic + inter, bc - inter + len(adj[v]) - inter)
                    )
            ranked = sorted(
                seen.items(),
                key=lambda kv: (
                    -score(kv[1][0], kv[1][1], len(kv[0])),
                    list(kv[0]),
                ),
            )[:c_max]
            new[v] = [(m, i, b) for m, (i, b) in ranked]
            if [m for m, _, _ in new[v]] != [m for m, _, _ in state[v]]:
                any_changed = True
        state = new
        if not any_changed:
            break
    return state


def test_semiclustering_matches_python_oracle(graph_builder):
    """Engine semi-clustering == the pure-python replay, member-for-
    member and score-for-score (ic/bc integer-exact), and the carried
    ic/bc equal ground-truth internal/boundary counts of each member
    set — validating the incremental maintenance."""
    import random

    from linkgraph.algorithms import semi_clustering

    rng = random.Random(23)
    edges = set()
    while len(edges) < 70:
        a, b = rng.randrange(25), rng.randrange(25)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    c_max, m_max, f_b, iters = 2, 4, 0.5, 6
    want = _py_semicluster(edges, c_max, m_max, f_b, iters)

    g = graph_builder(edges)
    state, info = semi_clustering(g, c_max=c_max, m_max=m_max, f_b=f_b, max_iter=iters)
    got = {
        r["id"]: [
            (tuple(c["members"]), c["ic"], c["bc"]) for c in r["clusters"]
        ]
        for r in state.collect()
    }
    assert got == want

    eset = {frozenset(e) for e in edges}
    for v, clusters in got.items():
        for members, ic, bc in clusters:
            ms = set(members)
            true_ic = sum(1 for e in eset if e <= ms)
            true_bc = sum(1 for e in eset if len(e & ms) == 1)
            assert (ic, bc) == (true_ic, true_bc), (v, members)


def test_semiclustering_rejects_bad_params(graph_builder):
    import pytest

    from linkgraph.algorithms import semi_clustering

    with pytest.raises(ValueError, match="c_max"):
        semi_clustering(graph_builder([(0, 1)]), c_max=0)


def test_scc_matches_networkx(spark, graph_builder):
    """Directed SCC (FW-BW-Trim coloring) == networkx
    strongly_connected_components with min-id normal form, on seeded
    random digraphs + a pure DAG chain (all-singleton, trim-only path)
    + a single cycle."""
    import random

    import networkx as nx

    from linkgraph.algorithms import scc

    rng = random.Random(17)
    for _ in range(2):
        edges = set()
        while len(edges) < 120:
            a, b = rng.randrange(40), rng.randrange(40)
            if a != b:
                edges.add((a, b))
        G = nx.DiGraph(edges)
        want = {}
        for comp in nx.strongly_connected_components(G):
            m = min(comp)
            for v in comp:
                want[v] = m
        state, info = scc(graph_builder(sorted(edges)))
        assert {r["id"]: r["scc"] for r in state.collect()} == want
        assert info.converged

    state, _ = scc(graph_builder([(i, i + 1) for i in range(12)]))
    assert {r["id"]: r["scc"] for r in state.collect()} == {i: i for i in range(13)}

    state, _ = scc(graph_builder([(i, (i + 1) % 6) for i in range(6)]))
    assert {r["id"]: r["scc"] for r in state.collect()} == {i: 0 for i in range(6)}


def test_weighted_pagerank_matches_numpy(spark):
    """weight_col PageRank == NumPy power iteration on the
    weight-normalized transition matrix (dangling drop), incl. a
    dangling vertex; non-positive weights are rejected."""
    import numpy as np
    import pytest

    from linkgraph.algorithms import pagerank
    from linkgraph.graph import Graph, vertices_of
    from pyspark.sql import functions as F

    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0), (3, 0, 5.0), (1, 4, 2.0)]
    # vertex 4 is dangling (no out-edges)
    edf = spark.createDataFrame(edges, "src long, dst long, w double")
    verts = vertices_of(edf)
    g = Graph(edges=edf, vertices=verts, num_vertices=verts.count(), num_edges=len(edges))
    state, info = pagerank(g, tol=1e-12, max_supersteps=200, weight_col="w")
    got = {r["id"]: r["rank"] for r in state.collect()}

    n, d = 5, 0.85
    wsum = {}
    for s, _, w in edges:
        wsum[s] = wsum.get(s, 0.0) + w
    r = np.full(n, 1.0 / n)
    for _ in range(200):
        nxt = np.full(n, (1.0 - d) / n)
        for s, t, w in edges:
            nxt[t] += d * r[s] * w / wsum[s]
        if np.abs(nxt - r).sum() < 1e-12:
            r = nxt
            break
        r = nxt
    assert all(abs(got[i] - r[i]) < 1e-9 for i in range(n))
    # weighting must actually matter: vertex 1 (weight 3 of 4 from 0)
    # outranks the uniform-split value
    state_u, _ = pagerank(g, tol=1e-12, max_supersteps=200)
    uni = {r2["id"]: r2["rank"] for r2 in state_u.collect()}
    assert got[1] > uni[1]

    bad = spark.createDataFrame([(0, 1, 0.0)], "src long, dst long, w double")
    bv = vertices_of(bad)
    gb = Graph(edges=bad, vertices=bv, num_vertices=2, num_edges=1)
    with pytest.raises(ValueError, match="non-positive"):
        pagerank(gb, weight_col="w")
