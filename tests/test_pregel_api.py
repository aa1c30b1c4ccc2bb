"""Generic vertex-program API tests (paper §2/§3.1/§3.3):

1. a NEW algorithm written as a ~15-line PregelSpec (max-value
   propagation) runs on the shared driver and matches a pure-python
   oracle — the point of the generic API is that a sixth algorithm is
   a spec, not a copy of the superstep loop;
2. user-defined global aggregators (spec.metrics) are recorded every
   superstep and visible to the next step() call;
3. the engine's cost and logging contracts: a superstep is one Spark
   job, and every loop on the shared barrier logs per-step walls.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkgraph.algorithms import (
    betweenness,
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


def test_weighted_sssp_keeps_isolated_vertices(spark):
    """A hand-built Graph with a weighted edge table and an isolated
    vertex: weighted SSSP sums weights along the cheapest path, and the
    isolated vertex keeps its state row at distance inf."""
    from linkgraph.graph import Graph

    edf = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 5.0), (0, 2, 10.0)], "src long, dst long, w double"
    )
    verts = spark.createDataFrame([(0,), (1,), (2,), (9,)], "id long")  # 9 isolated
    g = Graph(edges=edf, vertices=verts, num_vertices=4, num_edges=3)

    state, _ = sssp(g, source=0, weight_col="w")
    got = {r["id"]: r["dist"] for r in state.collect()}
    assert got[0] == 0.0 and got[1] == 2.0
    assert got[2] == 7.0  # via 0→1→2 (2+5), beats the direct 10.0 edge
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


def test_graph_prepare_weight_cols(spark):
    """VERDICT r3 #2: Graph.prepare(weight_cols=[...]) carries the
    weight through canonicalization — self-loops dropped, duplicate
    (src,dst) resolved to the min weight tuple deterministically."""
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
