"""Checkpoint / lineage / mid-iteration resume tests (SURVEY §5.2 test 4)."""

from __future__ import annotations

import numpy as np
import pytest

from linkgraph.algorithms import connected_components, pagerank
from linkgraph.catalog import ParquetManifestCatalog
from linkgraph.checkpoint import CheckpointManager
from linkgraph import fixtures as FX


@pytest.fixture(params=["parquet", "iceberg"])
def catalog(spark, tmp_path, request):
    """Contract fixture: every checkpoint/resume test runs against BOTH
    catalog providers, so the IcebergCatalog interface cannot drift
    even though this sandbox has no Iceberg runtime (those params
    collect as skips here and execute wherever the runtime jar is on
    the classpath)."""
    if request.param == "iceberg":
        from linkgraph.catalog import IcebergCatalog, iceberg_available

        if not iceberg_available(spark):
            pytest.skip("iceberg-spark-runtime not on the classpath")
        return IcebergCatalog(spark, "iceberg_test")
    return ParquetManifestCatalog(spark, str(tmp_path / "warehouse"))


def _stub_spark(for_name):
    """A SparkSession stand-in whose JVM answers Class.forName only."""
    from types import SimpleNamespace as NS

    lang = NS(Class=NS(forName=for_name))
    return NS(_jvm=NS(java=NS(lang=lang)))


def test_iceberg_probe_lets_real_failures_propagate():
    """Only a JVM-side error (ClassNotFoundException arrives as a
    Py4JJavaError) means "no Iceberg"; anything else — a dead gateway,
    a bug — must surface instead of silently picking the parquet
    provider. No Spark needed: the JVM is a stub."""
    from py4j.protocol import Py4JJavaError

    from linkgraph.catalog import iceberg_available

    def not_found(name):
        raise Py4JJavaError("ClassNotFoundException", type("J", (), {"_target_id": "o1"})())

    def broken(name):
        raise RuntimeError("gateway down")

    assert iceberg_available(_stub_spark(lambda name: object())) is True
    assert iceberg_available(_stub_spark(not_found)) is False
    with pytest.raises(RuntimeError, match="gateway down"):
        iceberg_available(_stub_spark(broken))


def ranks_of(state_df, n):
    rows = {r["id"]: r["rank"] for r in state_df.collect()}
    return np.array([rows[i] for i in range(n)])


def test_catalog_snapshot_roundtrip(spark, catalog):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s1 = catalog.write_snapshot("t", df, meta={"k": 1})
    s2 = catalog.write_snapshot("t", df.filter("id = 1"), meta={"k": 2})
    assert catalog.read_snapshot("t").count() == 1          # latest
    assert catalog.read_snapshot("t", s1.snapshot_id).count() == 2  # time travel
    assert catalog.latest("t", lambda m: m["k"] == 1).snapshot_id == s1.snapshot_id


def test_pagerank_resume_equals_uninterrupted(spark, catalog, graph_builder):
    import networkx as nx

    G = nx.karate_club_graph()
    edges = [(u, v) for u, v in G.edges()] + [(v, u) for u, v in G.edges()]
    g = graph_builder(edges)

    # uninterrupted run
    full_state, full_info = pagerank(g, tol=1e-9)
    full = ranks_of(full_state, 34)

    # interrupted: run only 12 supersteps with k=5 checkpointing
    ck = CheckpointManager(catalog, run_id="r1", every=5)
    _, info_a = pagerank(g, tol=1e-9, max_supersteps=12, checkpointer=ck)
    assert info_a.supersteps == 12

    # "crash": new checkpointer with same run id resumes from step 10
    ck2 = CheckpointManager(catalog, run_id="r1", every=5)
    resumed = ck2.try_resume("pagerank")
    assert resumed is not None
    # finish() at step 12 wrote the latest snapshot → resume at 12
    assert resumed[0] == 12
    state_b, info_b = pagerank(g, tol=1e-9, checkpointer=ck2)
    got = ranks_of(state_b, 34)
    # Not bit-identical: the parquet round-trip reorders rows, so float
    # accumulation order in groupBy sums differs. 1e-12 is far below the
    # 1e-6 correctness contract and catches any semantic divergence.
    assert np.allclose(got, full, atol=1e-12)
    assert info_b.supersteps == full_info.supersteps

    # lineage rows exist for the checkpointed supersteps, contiguous cadence
    steps = sorted(
        {r["superstep"] for r in ck2.lineage().filter("algorithm='pagerank'").collect()}
    )
    assert steps[:3] == [5, 10, 12]


def test_checkpoint_time_gate_skips_due_snapshots(spark, catalog, graph_builder):
    """min_interval_s holds back a due checkpoint while the last one is
    fresh: with every=1 and an hour-long gate, a 6-superstep run writes
    superstep 1 and the final snapshot of superstep 6 only, and a resume
    from that final snapshot returns the uninterrupted ranks without
    running a superstep."""
    import networkx as nx

    G = nx.karate_club_graph()
    edges = [(u, v) for u, v in G.edges()] + [(v, u) for u, v in G.edges()]
    g = graph_builder(edges)
    full_state, _ = pagerank(g, tol=1e-12, max_supersteps=6)
    full = ranks_of(full_state, 34)

    ck = CheckpointManager(catalog, run_id="gate1", every=1, min_interval_s=3600)
    _, info_a = pagerank(g, tol=1e-12, max_supersteps=6, checkpointer=ck)
    assert info_a.supersteps == 6 and not info_a.converged
    snaps = {
        int(s.meta["superstep"])
        for s in catalog.snapshots("state_pagerank")
        if s.meta.get("run_id") == "gate1"
    }
    assert snaps == {1, 6}
    lineage = {r["superstep"] for r in ck.lineage().collect()}
    assert lineage == {1, 6}

    ck2 = CheckpointManager(catalog, run_id="gate1", every=1, min_interval_s=3600)
    state_b, info_b = pagerank(g, tol=1e-12, max_supersteps=6, checkpointer=ck2)
    assert info_b.supersteps == 6 and info_b.log == []
    assert np.allclose(ranks_of(state_b, 34), full, atol=1e-12)


def test_components_resume(spark, catalog, graph_builder):
    g = graph_builder(FX.g3_star_edges(50))
    ck = CheckpointManager(catalog, run_id="r2", every=1)
    _, _ = connected_components(g, max_supersteps=1, checkpointer=ck)
    ck2 = CheckpointManager(catalog, run_id="r2", every=1)
    state, info = connected_components(g, checkpointer=ck2)
    got = {r["id"]: r["comp"] for r in state.collect()}
    assert set(got.values()) == {0}


def test_pagerank_csr_resume(spark, catalog, graph_builder):
    """The CSR path rides pregel_run now, so it checkpoints/resumes
    like the join path; resumed == uninterrupted to float tolerance."""
    import networkx as nx

    from linkgraph.csr import pagerank_csr

    G = nx.karate_club_graph()
    edges = [(u, v) for u, v in G.edges()] + [(v, u) for u, v in G.edges()]
    g = graph_builder(edges)
    full_state, full_info = pagerank_csr(g, tol=1e-9)
    full = ranks_of(full_state, 34)

    ck = CheckpointManager(catalog, run_id="csr1", every=4)
    _, info_a = pagerank_csr(g, tol=1e-9, max_supersteps=9, checkpointer=ck)
    assert info_a.supersteps == 9
    ck2 = CheckpointManager(catalog, run_id="csr1", every=4)
    state_b, info_b = pagerank_csr(g, tol=1e-9, checkpointer=ck2)
    got = ranks_of(state_b, 34)
    assert np.allclose(got, full, atol=1e-12)
    assert info_b.supersteps == full_info.supersteps


def test_pagerank_redistribute_resume_restores_aggregates(spark, catalog, graph_builder):
    """Redistribute mode depends on the previous barrier's dangling-mass
    aggregate; a resumed run must restore it from the checkpoint meta
    (not fall back to the superstep-1 closed form), so resumed ==
    uninterrupted on a graph with real dangling mass."""
    # 3 and 6 have no out-edges → nonzero, superstep-varying dangling mass
    edges = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 3), (5, 6), (1, 6)]
    g = graph_builder(edges)
    full_state, full_info = pagerank(g, tol=1e-12, dangling="redistribute")
    full = ranks_of(full_state, 7)

    ck = CheckpointManager(catalog, run_id="rd1", every=3)
    _, info_a = pagerank(
        g, tol=1e-12, max_supersteps=7, dangling="redistribute", checkpointer=ck
    )
    assert info_a.supersteps == 7
    ck2 = CheckpointManager(catalog, run_id="rd1", every=3)
    resumed = ck2.try_resume("pagerank")
    assert resumed is not None and "aggregates" in resumed[2]
    assert resumed[2]["aggregates"].get("dangling_mass") is not None
    state_b, info_b = pagerank(
        g, tol=1e-12, dangling="redistribute", checkpointer=ck2
    )
    got = ranks_of(state_b, 7)
    assert np.allclose(got, full, atol=1e-12)
    assert info_b.supersteps == full_info.supersteps


def test_refinish_after_resume_writes_no_duplicate_snapshot(
    spark, catalog, graph_builder
):
    """A resume whose start_step already satisfies max_supersteps runs
    zero supersteps and re-finishes; a FRESH CheckpointManager has an
    empty in-memory _last, so finish() must fall back to the catalog's
    latest snapshot to detect the existing checkpoint at the same
    superstep and retag it instead of rewriting a full duplicate."""
    # chords make degrees non-uniform (a plain cycle is stationary at
    # superstep 1 — delta 0 — and would converge before checkpointing)
    edges = [(i, (i + 1) % 20) for i in range(20)] + [(0, 10), (5, 15)]
    g = graph_builder(edges)
    ck = CheckpointManager(catalog, run_id="refin1", every=5)
    _, info = pagerank(g, tol=1e-15, max_supersteps=5, checkpointer=ck)
    assert info.supersteps == 5 and not info.converged
    n_before = len(catalog.snapshots("state_pagerank"))

    ck2 = CheckpointManager(catalog, run_id="refin1", every=5)
    state, info2 = pagerank(g, tol=1e-15, max_supersteps=5, checkpointer=ck2)
    assert info2.supersteps == 5
    assert state.count() == 20
    n_after = len(catalog.snapshots("state_pagerank"))
    assert n_after == n_before, "re-finish duplicated the final snapshot"


def test_kcore_resume_equals_uninterrupted(spark, catalog, graph_builder):
    """k-core's decrement messages are NOT idempotent: resuming with a
    too-wide frontier (the old full-state reseed) re-scatters decrements
    from every previously-dead vertex, peeling valid core members and
    driving deg negative. The snapshot's `_frontier` marker restores the
    exact dying wave, so resumed == uninterrupted, exactly."""
    from linkgraph.algorithms import kcore

    # chain 0..9 feeding into a 5-clique (100..104): with k=2 the chain
    # peels one vertex per wave (many supersteps), the clique survives —
    # checkpoints land mid-peeling
    chain = [(i, i + 1) for i in range(9)]
    attach = [(9, 100)]
    clique = [
        (a, b) for a in range(100, 105) for b in range(100, 105) if a < b
    ]
    g = graph_builder(chain + attach + clique)

    full_state, full_info = kcore(g, k=2)
    want = {
        r["id"]: (r["alive"], r["deg"]) for r in full_state.collect()
    }
    assert {i for i, (a, _) in want.items() if a} == set(range(100, 105))
    assert all(d >= 0 for _, d in want.values())

    ck = CheckpointManager(catalog, run_id="kc1", every=2)
    _, info_a = kcore(g, k=2, max_supersteps=5, checkpointer=ck)
    assert info_a.supersteps == 5
    ck2 = CheckpointManager(catalog, run_id="kc1", every=2)
    state_b, info_b = kcore(g, k=2, checkpointer=ck2)
    got = {r["id"]: (r["alive"], r["deg"]) for r in state_b.collect()}
    assert got == want
    assert info_b.supersteps == full_info.supersteps


def test_semiclustering_resume_with_nested_state(spark, catalog, graph_builder):
    """Checkpoint/resume with NESTED array-of-struct state: the
    semi-clustering cluster lists must survive the snapshot write +
    read-back (parquet nested types / Iceberg) and the resumed run
    must converge to exactly the uninterrupted result — the
    deterministic schedule makes equality exact, not approximate."""
    import random

    from linkgraph.algorithms import semi_clustering
    from linkgraph.checkpoint import CheckpointManager

    rng = random.Random(4)
    edges = set()
    while len(edges) < 40:
        a, b = rng.randrange(16), rng.randrange(16)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    g = graph_builder(sorted(edges))

    def as_dict(state_df):
        return {
            r["id"]: [
                (tuple(c["members"]), c["ic"], c["bc"]) for c in r["clusters"]
            ]
            for r in state_df.collect()
        }

    full_state, full_info = semi_clustering(g, max_iter=6)
    want = as_dict(full_state)

    ck = CheckpointManager(catalog, run_id="sc1", every=2)
    semi_clustering(g, max_iter=2, checkpointer=ck)
    ck2 = CheckpointManager(catalog, run_id="sc1", every=2)
    resumed = ck2.try_resume("semi_clustering")
    assert resumed is not None and resumed[0] == 2
    state_b, info_b = semi_clustering(g, max_iter=6, checkpointer=ck2)
    assert as_dict(state_b) == want
    assert info_b.supersteps == full_info.supersteps
