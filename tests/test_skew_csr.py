"""CSR kernel + skew mechanism tests (SURVEY §5.2 test 6; M5 gate)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph import fixtures as FX
from linkgraph.algorithms import pagerank
from linkgraph.csr import csr_stats, pack_csr, pagerank_csr
from linkgraph.skew import salted_sum


def ranks_of(state_df, n):
    rows = {r["id"]: r["rank"] for r in state_df.collect()}
    return np.array([rows[i] for i in range(n)])


def test_csr_pack_roundtrip(spark, graph_builder):
    g = graph_builder(FX.G1_EDGES)
    csr = pack_csr(g.edges, 4)
    # Unpack back to edges and compare
    rows = csr.collect()
    got = set()
    for r in rows:
        vids, indptr, indices = r["vids"], r["indptr"], r["indices"]
        for i, v in enumerate(vids):
            for j in range(indptr[i], indptr[i + 1]):
                got.add((v, indices[j]))
    assert got == set(FX.G1_EDGES)
    stats = {r["pk"]: r["n_edges"] for r in csr_stats(csr).collect()}
    assert sum(stats.values()) == len(FX.G1_EDGES)


@pytest.mark.parametrize("dangling", ["drop", "redistribute"])
def test_pagerank_csr_equals_join_path(spark, graph_builder, dangling):
    import networkx as nx

    G = nx.karate_club_graph()
    edges = [(u, v) for u, v in G.edges()] + [(v, u) for u, v in G.edges()]
    # one-way edges into new sinks 34..36, so redistribute mode moves mass
    g = graph_builder(edges + [(0, 34), (5, 35), (33, 36)])
    join_state, join_info = pagerank(g, tol=1e-9, dangling=dangling)
    csr_state, csr_info = pagerank_csr(g, tol=1e-9, dangling=dangling)
    a = ranks_of(join_state, 37)
    b = ranks_of(csr_state, 37)
    assert np.allclose(a, b, atol=1e-12)
    assert join_info.supersteps == csr_info.supersteps


def test_pagerank_csr_dangling(spark, graph_builder):
    g = graph_builder(FX.G1B_EDGES, extra_vertices=[3])
    state, _ = pagerank_csr(g, tol=1e-9, dangling="redistribute")
    assert np.allclose(ranks_of(state, 4), FX.G1B_PR_REDIST, atol=1e-6)


@pytest.mark.parametrize("run", [pagerank, pagerank_csr])
def test_invalid_dangling_rejected(spark, graph_builder, run):
    """An unknown `dangling` mode is a ValueError on both entry points
    (an assert would vanish under `python -O` and run as "drop")."""
    g = graph_builder(FX.G1B_EDGES)
    with pytest.raises(ValueError, match="dangling"):
        run(g, dangling="bogus")


@pytest.mark.parametrize("dangling", ["drop", "redistribute"])
def test_pagerank_star_equals_numpy(spark, graph_builder, dangling):
    """Out-degree skew needs no special scatter: the plain PageRank on a
    star (hub 0 -> 300 spokes) matches dense power iteration."""
    edges = FX.g3_star_edges(300)
    # both directions, plus one-way edges into two new sinks (one fed by
    # the hub) so redistribute mode has dangling mass to move
    edges = edges + [(s, d) for d, s in edges] + [(0, 301), (1, 302)]
    g = graph_builder(edges)
    n = g.num_vertices
    state, info = pagerank(g, tol=1e-9, dangling=dangling)
    want, iters = FX.pagerank_numpy(edges, n, tol=1e-9, dangling=dangling)
    assert np.allclose(ranks_of(state, n), want, rtol=0, atol=1e-9)
    assert info.supersteps == iters


def test_salted_sum_equals_naive(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 0.001).alias("v")
    ).repartition(8)
    naive = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    salted = {r["k"]: r["v"] for r in salted_sum(df, "k", "v", salt=4).collect()}
    assert set(naive) == set(salted)
    for k in naive:
        assert abs(naive[k] - salted[k]) < 1e-9


def test_salted_agg_bounds_per_task_share(spark):
    """SURVEY §5.2 test 6: a mega-hub key must not funnel through one
    reduce task. The salted phase-1 output is inspected per partition
    (the B13 metrics view): the hub's mass is split over >1 sub-keys
    and no phase-1 group carries more than a partition's worth."""
    from pyspark.sql import functions as F

    P_IN = 8
    N = 40_000
    msgs = (
        spark.range(0, N)
        .repartition(P_IN)
        .select(F.lit(0).alias("dst"), F.lit(1.0).alias("contrib"))
    )
    partial = (
        msgs.withColumn("_salt", F.pmod(F.spark_partition_id(), F.lit(16)))
        .groupBy("dst", "_salt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = partial.collect()
    assert len(rows) > 1  # the hot key IS split across sub-keys
    assert sum(r["n"] for r in rows) == N
    # ≤ one round-robin'd input partition's share, with slack for
    # uneven floor/ceil splits under other default parallelisms
    assert max(r["n"] for r in rows) <= N // P_IN + P_IN
    # and the final merge still yields the exact total
    from linkgraph.skew import salted_sum

    total = salted_sum(msgs, key="dst", value="contrib", salt=16).first()
    assert total["contrib"] == float(N)
