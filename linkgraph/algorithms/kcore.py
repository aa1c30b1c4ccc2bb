"""k-core decomposition (fixed k) as Pregel supersteps.

The k-core of an undirected simple graph is the maximal induced
subgraph in which every vertex has degree >= k; it is computed by
iteratively peeling vertices of degree < k until none remain. As a
vertex program (the standard Pregel formulation): every vertex keeps
`(alive, deg)`; a vertex that dies scatters a decrement to each
neighbor; a vertex applies `deg -= #dead-neighbor messages` and dies
when `deg < k`. Peeling is confluent (the k-core is unique and
independent of removal order), so the BSP schedule is exact.

Scale shape: this is the *delta* formulation — per superstep the
scatter join's state side is only the newly-dead frontier, so shuffle
volume is bounded by edges incident to vertices dying that round, not
|E|. Total messages over the whole run <= 2|E| (each edge delivers at
most one decrement per direction, ever) — the same total-work bound as
sequential peeling. The naive alternative (recount all alive degrees
every round) costs O(|E|) per round; on a 100 TB graph with a deep
peeling sequence that is the difference between one pass and hundreds.

Superstep count = number of peeling waves (graph-dependent, <= |V|);
each wave is one barrier with the usual fused single-exchange plan.

Checkpoint/resume: decrement messages are NOT idempotent, so resuming
with a widened frontier would re-deliver them and corrupt degrees; the
r4 pregel_run snapshots carry the exact frontier (`_frontier` marker)
and restore it, making kcore + checkpointer safe — resumed ==
uninterrupted, asserted in tests/test_resume.py.

`core_number` computes EVERY vertex's core number in one run via the
distributed h-index fixpoint (Montresor, De Pellegrini & Miorandi,
"Distributed k-Core Decomposition", IEEE TPDS 2013 — public
literature): est(v) starts at deg(v) and each superstep becomes
min(est(v), H(neighbor ests)) where H is the h-index (largest k such
that >= k neighbors currently estimate >= k). Estimates are integer,
monotonically non-increasing, and lower-bounded by the true core
number, so the fixpoint is exact and schedule-independent (confluent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, undirected
from linkgraph.pregel import PregelSpec, RunInfo, pregel_run


def kcore_spec(k: int, degrees: DataFrame) -> PregelSpec:
    """`degrees` = undirected degree per vertex id (computed once by the
    caller from the same symmetrized edge set used as links)."""

    def init_state(verts):
        # vertices_of guarantees every id has >= 1 edge, but a LEFT join
        # keeps the spec safe for callers passing extra isolated ids
        # (degree 0 => dead in superstep 1, exactly like peeling).
        return verts.join(degrees, "id", "left").select(
            "id",
            F.lit(True).alias("alive"),
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
        )

    def step(links, state, frontier, aggs):
        # frontier = vertices that CHANGED last superstep == newly dead
        # (changed is only ever set on a live->dead transition), so the
        # scatter side is the dying wave, not the full state. The
        # filter exists for superstep 1, where pregel_run seeds the
        # frontier with the FULL (all-alive) state: no one has died
        # yet, so no decrements flow and the step just applies the
        # initial deg >= k test.
        dead = frontier.filter(~F.col("alive")).select(F.col("id").alias("src"))
        msgs = links.join(dead, "src", "left_semi").select(
            "dst",
            F.lit(1).cast("long").alias("dec"),
            F.lit(None).cast("boolean").alias("o_alive"),
            F.lit(None).cast("long").alias("o_deg"),
        )
        carried = state.select(
            F.col("id").alias("dst"),
            F.lit(None).cast("long").alias("dec"),
            F.col("alive").alias("o_alive"),
            F.col("deg").alias("o_deg"),
        )
        merged = (
            msgs.unionByName(carried)
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.sum("dec").alias("d"),
                F.max("o_alive").alias("a"),
                F.max("o_deg").alias("dg"),
            )
        )
        new_deg = F.col("dg") - F.coalesce(F.col("d"), F.lit(0))
        new_alive = F.col("a") & (new_deg >= F.lit(k))
        return merged.select(
            "id",
            new_alive.alias("alive"),
            new_deg.alias("deg"),
            (F.col("a") & ~new_alive).alias("changed"),
        )

    return PregelSpec(
        algo=f"kcore_{k}",
        state_cols=("alive", "deg"),
        init_state=init_state,
        prepare_links=lambda e: e,  # caller passes the symmetrized graph
        step=step,
        metrics={
            "active": F.sum(F.col("changed").cast("long")),
            "alive": F.sum(F.col("alive").cast("long")),
        },
        halt=lambda a: int(a.get("active") or 0) == 0,
        frontier_filter="changed",
    )


def kcore(
    graph: Graph, k: int, max_supersteps: int = 10_000, checkpointer=None
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, alive, deg), RunInfo) over ALL input vertices.

    `alive` marks k-core membership; for members, `deg` at convergence
    equals the vertex's degree WITHIN the induced k-core subgraph
    (original degree minus one decrement per peeled neighbor).
    """
    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    sym_graph, degrees = undirected(graph)
    return pregel_run(
        sym_graph,
        kcore_spec(k, degrees),
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
    )


# expression computing the h-index from a DESC-sorted array of
# (est, cnt) histogram buckets: running cumulative count, h =
# max over buckets of min(bucket est, cumulative #neighbors >= it)
_H_INDEX_EXPR = """
aggregate(
  dist,
  struct(CAST(0 AS BIGINT) AS cum, CAST(0 AS BIGINT) AS h),
  (acc, x) -> struct(
    acc.cum + x.cnt,
    greatest(acc.h, least(x.est, acc.cum + x.cnt))),
  acc -> acc.h
)
"""


def core_number_spec(degrees: DataFrame) -> PregelSpec:
    """h-index fixpoint spec (see module docstring). `degrees` =
    undirected degree per id over the same symmetrized links.

    Superstep plan (scale shape): every vertex scatters its current
    estimate along all edges (|E| messages — estimates must be
    recomputed from ALL neighbors, not a delta), then TWO map-side-
    combinable aggregations: groupBy(dst, est).count() collapses the
    degree-sized message stream into per-vertex histograms (a
    high-degree hub contributes at most #distinct-estimate rows after
    the partial agg, so hot vertices never materialize degree-sized
    arrays — skew-safe where a collect_list formulation is not), then
    groupBy(dst) folds the histogram through `_H_INDEX_EXPR`. Iteration
    count is small in practice (Montresor et al. report near-log
    convergence on real graphs); each round is O(|E|) shuffle like one
    PageRank superstep.
    """

    def init_state(verts):
        return verts.join(degrees, "id", "left").select(
            "id",
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("est"),
        )

    def step(links, state, frontier, aggs):
        msgs = links.join(state.withColumnRenamed("id", "src"), "src").select(
            "dst", "est"
        )
        hist = msgs.groupBy("dst", "est").agg(F.count(F.lit(1)).alias("cnt"))
        hdf = (
            hist.groupBy("dst")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("est", "cnt")), asc=False
                ).alias("dist")
            )
            .select(F.col("dst").alias("id"), F.expr(_H_INDEX_EXPR).alias("h"))
        )
        new_est = F.least(F.col("est"), F.coalesce(F.col("h"), F.lit(0)))
        return state.join(hdf, "id", "left").select(
            "id",
            new_est.alias("est"),
            (new_est < F.col("est")).alias("changed"),
        )

    return PregelSpec(
        algo="core_number",
        state_cols=("est",),
        init_state=init_state,
        prepare_links=lambda e: e,  # caller passes the symmetrized graph
        step=step,
        metrics={
            "active": F.sum(F.col("changed").cast("long")),
            # free global aggregator: max estimate = degeneracy upper
            # bound during the run, exact degeneracy at convergence
            "degeneracy": F.max("est"),
        },
        halt=lambda a: int(a.get("active") or 0) == 0,
        frontier_filter=None,  # every vertex re-scatters each round
    )


def core_number(
    graph: Graph, max_supersteps: int = 200, checkpointer=None
) -> tuple[DataFrame, RunInfo]:
    """Core number of every vertex in ONE pregel run.

    Returns (state(id, core), RunInfo); `core` = the largest k such
    that the vertex belongs to the k-core. RunInfo.log[-1].aggregates
    ["degeneracy"] is the graph degeneracy (max core number).
    Agrees with peeling (`kcore`): {id | core >= k} == the k-core.
    """
    sym_graph, degrees = undirected(graph)
    state, info = pregel_run(
        sym_graph,
        core_number_spec(degrees),
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
    )
    return state.select("id", F.col("est").alias("core")), info
