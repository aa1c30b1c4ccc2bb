"""Generic vertex-program API tests (paper §2/§3.1/§3.3/§3.4):

1. a NEW algorithm written as a ~15-line PregelSpec (max-value
   propagation) runs on the shared driver and matches a pure-python
   oracle — the point of the generic API is that a sixth algorithm is
   a spec, not a copy of the superstep loop;
2. user-defined global aggregators (spec.metrics) are recorded every
   superstep and visible to the next step() call;
3. mid-compute topology mutation resolved at the superstep barrier:
   added edges merge components exactly as a static run on the final
   graph; removed edges stop future message flow.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkgraph.algorithms import (
    betweenness,
    connected_components,
    ktruss,
    landmark_distances,
    scc,
    sssp,
)
from linkgraph.graph import symmetrize
from linkgraph.pregel import PregelSpec, pregel_run


def maxprop_spec() -> PregelSpec:
    """Max-value propagation: every vertex converges to the max id in
    its (undirected) component. Written as a user would write it."""

    def step(links, state, frontier, aggs):
        msgs = links.join(frontier.withColumnRenamed("id", "src"), "src").select(
            "dst", F.col("val").alias("msg"), F.lit(None).cast("double").alias("old")
        )
        carried = state.select(
            F.col("id").alias("dst"),
            F.lit(None).cast("double").alias("msg"),
            F.col("val").alias("old"),
        )
        return (
            msgs.unionByName(carried)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.max("msg").alias("m"), F.max("old").alias("o"))
            .select(
                "id",
                F.greatest(F.coalesce(F.col("m"), F.col("o")), F.col("o")).alias("val"),
                F.coalesce(F.col("m") > F.col("o"), F.lit(False)).alias("changed"),
            )
        )

    return PregelSpec(
        algo="maxprop",
        state_cols=("val",),
        init_state=lambda v: v.select("id", F.col("id").cast("double").alias("val")),
        prepare_links=symmetrize,
        step=step,
        metrics={
            "active": F.sum(F.col("changed").cast("long")),
            "val_sum": F.sum("val"),  # user-defined aggregator (§3.3)
        },
        halt=lambda a: int(a.get("active") or 0) == 0,
        frontier_filter="changed",
    )


def test_custom_vertex_program_matches_oracle(graph_builder):
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12)]
    g = graph_builder(edges)
    state, info = pregel_run(g, maxprop_spec(), max_supersteps=50)
    got = {r["id"]: r["val"] for r in state.collect()}
    assert got == {0: 3.0, 1: 3.0, 2: 3.0, 3: 3.0, 10: 12.0, 11: 12.0, 12: 12.0}
    assert info.converged


def test_user_aggregators_recorded_every_superstep(graph_builder):
    g = graph_builder([(0, 1), (1, 2), (2, 3)])
    state, info = pregel_run(g, maxprop_spec(), max_supersteps=50)
    assert len(info.log) == info.supersteps
    for entry in info.log:
        assert entry.aggregates is not None and "val_sum" in entry.aggregates
    # converged fixpoint: all four vertices hold 3.0
    assert info.log[-1].aggregates["val_sum"] == 12.0


def test_aggregates_visible_to_next_step(graph_builder):
    """Paper §3.3: superstep S+1's compute sees superstep S's
    aggregator values — pregel_run hands the previous metrics dict to
    each step() call."""
    seen: list[dict] = []
    base = maxprop_spec()

    def spying_step(links, state, frontier, aggs):
        seen.append(dict(aggs))
        return base.step(links, state, frontier, aggs)

    spec = PregelSpec(**{**base.__dict__, "step": spying_step})
    g = graph_builder([(0, 1), (1, 2)])
    pregel_run(g, spec, max_supersteps=50)
    # superstep 1 has no prior USER aggregates — only the reserved
    # _superstep key the engine always exposes (paper §2's "compute()
    # can query the superstep"; added r5 for MIS/coloring priorities)
    assert seen[0] == {"_superstep": 0}
    assert all("val_sum" in a and a["_superstep"] == i + 1
               for i, a in enumerate(seen[1:]))


def test_mutation_add_edge_merges_components(spark, graph_builder):
    """B14: an edge added at the superstep-2 barrier merges two
    components; the final labels equal a static run on the final
    graph (min-label is confluent under addition)."""
    g = graph_builder([(0, 1), (1, 2), (10, 11), (11, 12)])
    bridge = spark.createDataFrame([(2, 10)], "src long, dst long")

    def mutations(superstep):
        return (bridge, None) if superstep == 2 else None

    state, info = connected_components(g, mutations=mutations)
    got = {r["id"]: r["comp"] for r in state.collect()}
    g_final = graph_builder([(0, 1), (1, 2), (2, 10), (10, 11), (11, 12)])
    want_state, _ = connected_components(g_final)
    want = {r["id"]: r["comp"] for r in want_state.collect()}
    assert got == want == {i: 0 for i in got}


def test_mutation_add_edge_with_new_vertices(spark, graph_builder):
    """Added edges may introduce vertices unseen at start: they must
    get init_state rows and participate from the next superstep."""
    g = graph_builder([(0, 1)])
    growth = spark.createDataFrame([(1, 5), (5, 6)], "src long, dst long")

    def mutations(superstep):
        return (growth, None) if superstep == 1 else None

    state, _ = connected_components(g, mutations=mutations)
    got = {r["id"]: r["comp"] for r in state.collect()}
    assert got == {0: 0, 1: 0, 5: 0, 6: 0}


def test_mutation_remove_edge_stops_propagation(spark, graph_builder):
    """A chain 0→1→2→3→4 whose (2,3) edge is removed at the barrier
    after superstep 1 — before the frontier reaches it — leaves 3,4
    unreachable, exactly like a static run without that edge."""
    g = graph_builder([(0, 1), (1, 2), (2, 3), (3, 4)])
    cut = spark.createDataFrame([(2, 3)], "src long, dst long")

    def mutations(superstep):
        return (None, cut) if superstep == 1 else None

    state, _ = sssp(g, source=0, mutations=mutations)
    got = {r["id"]: r["dist"] for r in state.collect()}
    assert got[0] == 0.0 and got[1] == 1.0 and got[2] == 2.0
    assert got[3] == float("inf") and got[4] == float("inf")


def test_vertex_initiated_add_matches_driver_callback(spark, graph_builder):
    """Paper §3.4 FULL semantics: the program itself derives mutation
    requests from its post-superstep state (vertices whose comp == 10
    request an edge to id-10, collapsing the two components) and the
    result matches the driver-callback equivalent exactly."""
    import dataclasses

    from linkgraph.algorithms.components import components_spec
    from linkgraph.pregel import pregel_run

    edges = [(0, 1), (1, 2), (10, 11), (11, 12)]

    def requests(new_state, aggs, superstep):
        if superstep != 2:
            return None
        return new_state.filter(F.col("comp") == 10).select(
            F.lit("add").alias("op"),
            F.col("id").alias("src"),
            (F.col("id") - 10).alias("dst"),
        )

    spec = dataclasses.replace(components_spec(), request_mutations=requests)
    state, info = pregel_run(graph_builder(edges), spec, max_supersteps=50)
    got = {r["id"]: r["comp"] for r in state.collect()}

    add_df = spark.createDataFrame(
        [(10, 0), (11, 1), (12, 2)], "src long, dst long"
    )
    state2, info2 = pregel_run(
        graph_builder(edges),
        components_spec(),
        max_supersteps=50,
        mutations=lambda s: (add_df, None) if s == 2 else None,
    )
    got2 = {r["id"]: r["comp"] for r in state2.collect()}
    assert got == got2
    assert set(got.values()) == {0}  # one merged component
    assert info.converged and info2.converged


def test_vertex_initiated_remove_stops_propagation(spark, graph_builder):
    """Vertex-initiated edge collapse: the vertex that just reached
    dist 1 cuts its outgoing edge (a state-derived remove request),
    leaving the tail unreachable — the compute()-side mirror of the
    driver-callback removal test above."""
    import dataclasses

    from linkgraph.algorithms.sssp import sssp_spec
    from linkgraph.pregel import pregel_run

    def requests(new_state, aggs, superstep):
        if superstep != 1:
            return None
        return new_state.filter(F.col("dist") == 1.0).select(
            F.lit("remove").alias("op"),
            F.col("id").alias("src"),
            (F.col("id") + 1).alias("dst"),
        )

    spec = dataclasses.replace(sssp_spec(0), request_mutations=requests)
    g = graph_builder([(0, 1), (1, 2), (2, 3), (3, 4)])
    state, _ = pregel_run(g, spec, max_supersteps=50)
    got = {r["id"]: r["dist"] for r in state.collect()}
    inf = float("inf")
    assert got == {0: 0.0, 1: 1.0, 2: inf, 3: inf, 4: inf}


def test_mutation_ordering_removal_then_addition(spark, graph_builder):
    """§3.4 pinned partial ordering: an edge both removed and added at
    the same barrier ends up PRESENT (removals first, then additions).
    Observable: a removal-only run on the same schedule splits the
    graph, the remove+add run does not."""
    from linkgraph.algorithms.components import connected_components

    edges = [(0, 1), (1, 2), (2, 10), (10, 11)]
    both = spark.createDataFrame([(2, 10)], "src long, dst long")

    state, info = connected_components(
        graph_builder(edges),
        mutations=lambda s: (both, both) if s == 1 else None,
    )
    got = {r["id"]: r["comp"] for r in state.collect()}
    assert set(got.values()) == {0}, "addition must win: edge present"
    assert info.converged

    state2, info2 = connected_components(
        graph_builder(edges),
        mutations=lambda s: (None, both) if s == 1 else None,
    )
    got2 = {r["id"]: r["comp"] for r in state2.collect()}
    assert got2 == {0: 0, 1: 0, 2: 0, 10: 2, 11: 2}
    assert info2.converged


def test_callback_remove_and_requested_add_at_one_barrier(spark, graph_builder):
    """Both request sources at ONE barrier: the driver callback removes
    (2,10) while a vertex-initiated request re-adds it at superstep 1.
    The resolver merges them and §3.4's removals-first ordering keeps
    the edge, so one component remains; the callback's removal alone
    (control) splits the graph."""
    import dataclasses

    from linkgraph.algorithms.components import components_spec

    edges = [(0, 1), (1, 2), (2, 10), (10, 11)]
    cut = spark.createDataFrame([(2, 10)], "src long, dst long")

    def callback(superstep):
        return (None, cut) if superstep == 1 else None

    def requests(new_state, aggs, superstep):
        if superstep != 1:
            return None
        return new_state.filter(F.col("id") == 2).select(
            F.lit("add").alias("op"),
            F.col("id").alias("src"),
            F.lit(10).cast("long").alias("dst"),
        )

    spec = dataclasses.replace(components_spec(), request_mutations=requests)
    state, info = pregel_run(
        graph_builder(edges), spec, max_supersteps=50, mutations=callback
    )
    got = {r["id"]: r["comp"] for r in state.collect()}
    assert set(got.values()) == {0}, "the requested add must win"
    assert info.converged

    state2, info2 = pregel_run(
        graph_builder(edges), components_spec(), max_supersteps=50,
        mutations=callback,
    )
    got2 = {r["id"]: r["comp"] for r in state2.collect()}
    assert got2 == {0: 0, 1: 0, 2: 0, 10: 2, 11: 2}
    assert info2.converged


def test_request_mutations_gate_metric_skips_quiet_barriers(
    spark, graph_builder
):
    """A spec exposing a `mutation_requests` metric is never asked for
    requests on barriers where the metric is 0 — the zero-request
    common case costs no extra Spark action."""
    import dataclasses

    from linkgraph.algorithms.components import components_spec
    from linkgraph.pregel import pregel_run

    calls = []

    def requests(new_state, aggs, superstep):
        calls.append(superstep)
        return None

    base = components_spec()
    spec = dataclasses.replace(
        base,
        metrics={
            **base.metrics,
            "mutation_requests": F.sum(F.lit(0).cast("long")),
        },
        request_mutations=requests,
    )
    _, info = pregel_run(graph_builder([(0, 1), (1, 2)]), spec, max_supersteps=10)
    assert info.converged
    assert calls == []


def test_request_mutations_unknown_op_rejected(spark, graph_builder):
    """Request rows with an op outside {'add','remove'} are a program
    bug — rejected with a ValueError, not silently dropped."""
    import dataclasses

    import pytest

    from linkgraph.algorithms.components import components_spec
    from linkgraph.pregel import pregel_run

    def requests(new_state, aggs, superstep):
        return new_state.select(
            F.lit("frobnicate").alias("op"),
            F.col("id").alias("src"),
            (F.col("id") + 1).alias("dst"),
        )

    spec = dataclasses.replace(components_spec(), request_mutations=requests)
    with pytest.raises(ValueError, match="unknown op"):
        pregel_run(graph_builder([(0, 1)]), spec, max_supersteps=5)


def test_mutation_unsafe_spec_rejected(spark, graph_builder):
    """Specs marked mutation_safe=False (k-core's decrement counting,
    the h-index core decomposition) must refuse a mutations= callback
    up front — the barrier-time frontier reset would re-deliver
    non-idempotent messages. The old docstring contract is now code."""
    import pytest

    from linkgraph.algorithms.kcore import core_number_spec, kcore_spec
    from linkgraph.graph import symmetrize
    from linkgraph.pregel import pregel_run

    g = graph_builder([(0, 1), (1, 2)])
    sym = symmetrize(g.edges)
    degrees = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    noop = spark.createDataFrame([(0, 2)], "src long, dst long")
    for spec in (kcore_spec(2, degrees), core_number_spec(degrees)):
        with pytest.raises(ValueError, match="mutation_safe=False"):
            pregel_run(
                g, spec, max_supersteps=5, mutations=lambda s: (noop, None)
            )
    # same guard for vertex-initiated requests authored into the spec
    import dataclasses

    unsafe = dataclasses.replace(
        kcore_spec(2, degrees),
        request_mutations=lambda st, aggs, s: None,
    )
    with pytest.raises(ValueError, match="mutation_safe=False"):
        pregel_run(g, unsafe, max_supersteps=5)


def test_mutations_with_checkpointer_resume_equals_uninterrupted(
    spark, graph_builder, tmp_path
):
    """B9+B14 composition (r4): checkpoints of a topology-mutating run
    snapshot the CURRENT edge table alongside state; a run killed after
    the mutation resumes on the mutated graph (not the input graph) and
    converges to exactly the uninterrupted result. The mutation fires at
    superstep 1, the checkpoint cadence hits at superstep 2, the run is
    killed at 3 — resume must NOT re-fire the superstep-1 callback (its
    effect is baked into the restored edge snapshot)."""
    from linkgraph.catalog import ParquetManifestCatalog
    from linkgraph.checkpoint import CheckpointManager

    # two chains; the mutation bridges them and adds a brand-new vertex
    edges = [(0, 1), (1, 2), (10, 11), (11, 12)]
    g = graph_builder(edges)
    bridge = spark.createDataFrame([(2, 10), (12, 20)], "src long, dst long")
    fired: list[int] = []

    def mutations(superstep):
        fired.append(superstep)
        return (bridge, None) if superstep == 1 else None

    full_state, full_info = connected_components(g, mutations=mutations)
    want = {r["id"]: r["comp"] for r in full_state.collect()}
    assert want == {i: 0 for i in want} and 20 in want

    cat = ParquetManifestCatalog(spark, str(tmp_path / "wh"))
    ck = CheckpointManager(cat, run_id="mut1", every=2)
    fired.clear()
    connected_components(
        g, max_supersteps=3, checkpointer=ck, mutations=mutations
    )
    assert 1 in fired  # mutation applied before the "crash"

    ck2 = CheckpointManager(cat, run_id="mut1", every=2)
    resumed = ck2.try_resume("components")
    assert resumed is not None and resumed[2].get("has_edges")
    # the restored edge table is the post-mutation graph
    restored = ck2.read_edges("components", resumed[0])
    got_edges = {(r["src"], r["dst"]) for r in restored.collect()}
    assert (2, 10) in got_edges and (12, 20) in got_edges

    fired.clear()
    state_b, info_b = connected_components(
        g, checkpointer=ck2, mutations=mutations
    )
    got = {r["id"]: r["comp"] for r in state_b.collect()}
    assert got == want
    assert 1 not in fired  # superstep-1 callback not re-fired on resume


def test_resume_from_mutation_barrier_snapshot(spark, graph_builder, tmp_path):
    """The snapshot written AT a mutation barrier (every=1: superstep
    1's, right after the mutation) holds the post-mutation graph and a
    frontier reset to every vertex. A run that crashes in superstep 2's
    callback resumes from it to the uninterrupted labels, without
    re-firing the superstep-1 callback."""
    from linkgraph.catalog import ParquetManifestCatalog
    from linkgraph.checkpoint import CheckpointManager

    edges = [(0, 1), (1, 2), (10, 11), (11, 12)]
    g = graph_builder(edges)
    bridge = spark.createDataFrame([(2, 10), (12, 20)], "src long, dst long")
    fired: list[int] = []
    crash = [False]

    def mutations(superstep):
        fired.append(superstep)
        if crash[0] and superstep == 2:
            raise RuntimeError("simulated crash at superstep 2")
        return (bridge, None) if superstep == 1 else None

    full_state, _ = connected_components(g, mutations=mutations)
    want = {r["id"]: r["comp"] for r in full_state.collect()}
    assert want == {i: 0 for i in want} and 20 in want

    cat = ParquetManifestCatalog(spark, str(tmp_path / "wh"))
    crash[0] = True
    with pytest.raises(RuntimeError, match="simulated crash"):
        connected_components(
            g, checkpointer=CheckpointManager(cat, run_id="mut2", every=1),
            mutations=mutations,
        )
    crash[0] = False

    ck = CheckpointManager(cat, run_id="mut2", every=1)
    step, snap, meta = ck.try_resume("components")
    assert step == 1 and meta.get("has_edges")
    assert {r["_frontier"] for r in snap.collect()} == {True}
    assert 20 in {r["id"] for r in snap.collect()}  # new vertex initialized

    fired.clear()
    state_b, info_b = connected_components(g, checkpointer=ck, mutations=mutations)
    got = {r["id"]: r["comp"] for r in state_b.collect()}
    assert got == want
    assert info_b.converged
    assert 1 not in fired  # superstep-1 callback not re-fired on resume


def test_mutation_preserves_weights_and_isolated_vertices(spark):
    """Regressions from review: (a) mutations on a weighted edge table
    must keep the weight column through the barrier rebuild; (b) a
    vertex with no edges (or whose edges were removed) keeps its state
    row — edge mutation never deletes vertices."""
    from linkgraph.graph import Graph

    edf = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 5.0)], "src long, dst long, w double"
    )
    verts = spark.createDataFrame([(0,), (1,), (2,), (9,)], "id long")  # 9 isolated
    g = Graph(edges=edf, vertices=verts, num_vertices=4, num_edges=2)
    add = spark.createDataFrame([(0, 2, 10.0)], "src long, dst long, w double")

    state, _ = sssp(
        g, source=0, weight_col="w",
        mutations=lambda s: (add, None) if s == 1 else None,
    )
    got = {r["id"]: r["dist"] for r in state.collect()}
    assert got[0] == 0.0 and got[1] == 2.0
    assert got[2] == 7.0  # via 0→1→2 (2+5), beats the added 10.0 edge
    assert got[9] == float("inf")  # isolated vertex still present


def test_redistribute_mode_no_extra_actions_per_superstep(spark, graph_builder):
    """dangling='redistribute' must cost the SAME number of Spark jobs
    per superstep as 'drop' (VERDICT r2 #2): the dangling mass rides
    the barrier job's metrics instead of a per-superstep semi-join
    action. Measured as the job-count DELTA between K=4 and K=8 runs,
    which cancels one-time setup jobs."""
    from linkgraph.algorithms import pagerank

    g = graph_builder([(0, 1), (1, 2), (0, 2), (2, 3), (4, 3)])
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(mode: str, k: int, tag: str) -> int:
        sc.setJobGroup(tag, tag)
        state, _ = pagerank(g, tol=0.0, max_supersteps=k, dangling=mode)
        state.count()
        return len(tracker.getJobIdsForGroup(tag))

    d4 = jobs("drop", 4, "pr_d4")
    d8 = jobs("drop", 8, "pr_d8")
    r4 = jobs("redistribute", 4, "pr_r4")
    r8 = jobs("redistribute", 8, "pr_r8")
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert (r8 - r4) == (d8 - d4)


@pytest.mark.parametrize("algo", ["pagerank", "lpa"])
def test_superstep_is_one_job(spark, graph_builder, executed_stages, algo):
    """A superstep is ONE Spark job: no broadcast job, and no stage of
    the scatter relation's lineage re-scheduled (skipped) per barrier.
    Measured as the DELTA between fixed K=4 and K=8 runs, which cancels
    one-time setup jobs. PageRank executes 2 stages per superstep
    (scatter + partial combine, final combine + barrier write); LPA's
    two-level aggregate (count per (dst, label), then argmax per dst)
    adds one exchange, so 3."""
    from linkgraph.algorithms import label_propagation, pagerank

    g = graph_builder([(0, 1), (1, 2), (0, 2), (2, 3), (4, 3)])
    sc = spark.sparkContext
    run = {
        "pagerank": lambda k: pagerank(g, tol=0.0, max_supersteps=k),
        "lpa": lambda k: label_propagation(g, max_iter=k, early_stop=False),
    }[algo]

    def counts(k: int) -> tuple[int, int]:
        tag = f"one_job_{algo}_{k}"
        sc.setJobGroup(tag, tag)
        _, info = run(k)
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert info.supersteps == k
        stages = executed_stages(tag)  # drains the listener bus first
        return len(sc.statusTracker().getJobIdsForGroup(tag)), len(stages)

    j4, s4 = counts(4)
    j8, s8 = counts(8)
    assert j8 - j4 == 4
    assert s8 - s4 == {"pagerank": 8, "lpa": 12}[algo]


def test_scc_trim_rounds_cost_one_action_each(spark, graph_builder, monkeypatch):
    """VERDICT r3 #6: scc's trim phase must derive the trim count AND
    subgraph emptiness from ONE driver action per outer round — no
    separate isEmpty()/count() probes. (Job counts can't assert this:
    AQE splits one action into several stage-materialization jobs, so
    we count the driver-side action calls directly.) A DAG chain of 8
    is pure trim cascade: 4 rounds of pairwise endpoint peeling → 4
    metric barriers, zero count()/isEmpty()/first() calls — first()
    staying at 0 additionally proves the observed-metric fast path ran
    (the barrier's agg fallback is the only first() scc could reach)."""
    # patch the concrete class: pyspark 4's public DataFrame is an
    # abstract base the classic session subclasses with overrides
    from pyspark.sql.classic.dataframe import DataFrame

    from linkgraph import pregel
    from linkgraph.algorithms import scc

    calls = {"first": 0, "count": 0, "isEmpty": 0, "barrier": 0}
    real_first, real_count, real_empty = (
        DataFrame.first, DataFrame.count, DataFrame.isEmpty,
    )
    real_barrier = pregel.Fixpoint.barrier
    monkeypatch.setattr(
        DataFrame, "first",
        lambda self: (calls.__setitem__("first", calls["first"] + 1), real_first(self))[1],
    )
    monkeypatch.setattr(
        DataFrame, "count",
        lambda self: (calls.__setitem__("count", calls["count"] + 1), real_count(self))[1],
    )
    monkeypatch.setattr(
        DataFrame, "isEmpty",
        lambda self: (calls.__setitem__("isEmpty", calls["isEmpty"] + 1), real_empty(self))[1],
    )
    monkeypatch.setattr(
        pregel.Fixpoint, "barrier",
        lambda fx, st, m=None: (calls.__setitem__("barrier", calls["barrier"] + 1), real_barrier(fx, st, m))[1],
    )
    g = graph_builder([(i, i + 1) for i in range(7)])  # chain of 8
    calls.update(first=0, count=0, isEmpty=0, barrier=0)
    scc(g)
    assert calls == {"first": 0, "count": 0, "isEmpty": 0, "barrier": 4}


def _lm(g, col):
    return g.edges.sparkSession.createDataFrame([(0,)], f"{col} long")


def _truss_fixture():
    import random

    rng = random.Random(1)
    return sorted({tuple(sorted(rng.sample(range(30), 2))) for _ in range(110)})


_CHAIN8 = [(i, i + 1) for i in range(7)]
# (edges, call) per loop, each recording >= 4 steps: 5 k-truss peeling
# rounds; 7 BFS levels from an end of the path; 4 scc trim rounds
_STEP_LOOPS = {
    "ktruss": (_truss_fixture(), lambda g: ktruss(g, 4)),
    "landmark_distances": (
        _CHAIN8, lambda g: landmark_distances(g, landmarks=_lm(g, "lm"))
    ),
    "betweenness": (_CHAIN8, lambda g: betweenness(g, sources=_lm(g, "s"))),
    "scc": (_CHAIN8, scc),
}


@pytest.mark.parametrize("algo", sorted(_STEP_LOOPS))
def test_step_walls_are_per_step(spark, graph_builder, algo):
    """SuperstepLog.wall_s is the time of that ONE step (plan build to
    barrier return), never a running total: the recorded step walls of
    a call cannot add up to more than the call's own wall time."""
    import time

    edges, call = _STEP_LOOPS[algo]
    g = graph_builder(edges)
    t0 = time.monotonic()
    _, info = call(g)
    wall = time.monotonic() - t0
    assert len(info.log) >= 4
    assert sum(s.wall_s for s in info.log) <= wall
    assert info.wall_s == pytest.approx(sum(s.wall_s for s in info.log))


def test_components_estimate_aggregator(spark, graph_builder):
    """B7 demo on a non-toy metric: approx_count_distinct(comp) rides
    the barrier as a user aggregator — the per-superstep estimate decays
    from ~|V| to the true component count, with zero extra actions."""
    # 8 disjoint chains of 6 vertices -> exactly 8 components
    edges = [
        (c * 10 + i, c * 10 + i + 1) for c in range(8) for i in range(5)
    ]
    g = graph_builder(edges)
    state, info = connected_components(g, estimate_components=True)
    series = [s.aggregates["n_components_est"] for s in info.log]
    # HLL at this cardinality is effectively exact; allow slack anyway
    assert abs(series[-1] - 8) <= 1
    assert series[0] >= series[-1]  # estimate decays as labels merge
    assert state.select("comp").distinct().count() == 8


def test_graph_prepare_weight_cols(spark):
    """VERDICT r3 #2: Graph.prepare(weight_cols=[...]) carries the
    weight through canonicalization — self-loops dropped, duplicate
    (src,dst) resolved to the min weight tuple deterministically (the
    same rule the mutation path applies to conflicting added edges)."""
    import pytest

    from linkgraph.graph import Graph

    edf = spark.createDataFrame(
        [(0, 1, 5.0), (0, 1, 2.0), (2, 2, 9.0), (1, 2, 3.0)],
        "src long, dst long, w double",
    )
    g = Graph.prepare(edf, weight_cols=["w"])
    got = {(r["src"], r["dst"]): r["w"] for r in g.edges.collect()}
    assert got == {(0, 1): 2.0, (1, 2): 3.0}  # no self-loop, min weight
    assert g.num_edges == 2 and g.num_vertices == 3

    with pytest.raises(ValueError, match="weight_cols"):
        Graph.prepare(edf.select("src", "dst"), weight_cols=["w"])
    g.unpersist()


def test_weighted_pagerank_null_weight_rejected(spark):
    """ADVICE r3 (medium): a NULL weight must raise, not silently leak
    rank mass (w <= 0 is NULL for null rows, which filter() drops)."""
    import pytest

    from linkgraph.algorithms import pagerank
    from linkgraph.graph import Graph, vertices_of

    edf = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, None)], "src long, dst long, w double"
    )
    verts = vertices_of(edf)
    g = Graph(edges=edf, vertices=verts, num_vertices=verts.count(), num_edges=2)
    with pytest.raises(ValueError, match="NULL"):
        pagerank(g, weight_col="w")

    from linkgraph.algorithms import sssp

    with pytest.raises(ValueError, match="NULL"):
        sssp(g, source=0, weight_col="w")


def test_scc_empty_graph(spark):
    """ADVICE r3: scc() on an empty vertex set must return an empty
    (id, scc) frame instead of raising IndexError."""
    from linkgraph.algorithms import scc
    from linkgraph.graph import Graph

    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([], "id long")
    g = Graph(edges=edges, vertices=verts, num_vertices=0, num_edges=0)
    state, info = scc(g)
    assert state.columns == ["id", "scc"]
    assert state.count() == 0
    assert info.converged


def test_mutation_at_convergence_barrier_reactivates(spark, graph_builder):
    """ADVICE r2: a mutation returned at the exact barrier where the
    run converges must be applied and the run reactivated — convergence
    must not silently beat a scheduled mutation."""
    g = graph_builder([(0, 1)])
    _, base_info = connected_components(g)
    assert base_info.converged
    k = base_info.supersteps  # the convergence barrier
    bridge = spark.createDataFrame([(1, 5)], "src long, dst long")
    fired = []

    def mutations(s):
        if s == k and not fired:
            fired.append(s)
            return (bridge, None)
        return None

    state, info = connected_components(g, mutations=mutations)
    got = {r["id"]: r["comp"] for r in state.collect()}
    assert fired == [k]  # the callback DID run at the converged barrier
    assert got == {0: 0, 1: 0, 5: 0}  # the bridge was applied
    assert info.converged and info.supersteps > k


def test_mutation_never_applied_warns(spark, graph_builder):
    """A run that ends without the mutations callback ever producing a
    mutation (e.g. one scheduled past convergence) must warn."""
    import warnings as W

    g = graph_builder([(0, 1)])
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        _, info = connected_components(g, mutations=lambda s: None)
    assert info.converged
    assert any("never returned a mutation" in str(w.message) for w in caught)


def test_mutation_readd_edge_replaces_weight_deterministically(spark):
    """ADVICE r2: re-adding an existing (src,dst) with a new weight must
    deterministically replace the old row (last-write-wins), not leave
    whichever survivor dropDuplicates happened to keep."""
    from linkgraph.graph import Graph
    from linkgraph.algorithms import sssp as _sssp

    edf = spark.createDataFrame(
        [(0, 1, 5.0), (1, 2, 1.0)], "src long, dst long, w double"
    )
    verts = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    g = Graph(edges=edf, vertices=verts, num_vertices=3, num_edges=2)
    upd = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, w double")
    state, _ = _sssp(
        g, source=0, weight_col="w",
        mutations=lambda s: (upd, None) if s == 1 else None,
    )
    got = {r["id"]: r["dist"] for r in state.collect()}
    assert got[1] == 1.0 and got[2] == 2.0


def test_mutation_at_max_supersteps_barrier_warns_not_applied(spark, graph_builder):
    """Review fix: a mutation returned at the terminal max_supersteps
    barrier cannot run (no superstep remains) — it must warn instead of
    being silently dropped or half-applied."""
    import warnings as W

    g = graph_builder([(0, 1)])
    bridge = spark.createDataFrame([(1, 7)], "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        state, info = connected_components(
            g, max_supersteps=2, mutations=lambda s: (bridge, None) if s == 2 else None
        )
    assert info.supersteps == 2
    got = {r["id"] for r in state.collect()}
    assert 7 not in got  # not half-applied
    assert any("cannot be applied" in str(w.message) for w in caught)
