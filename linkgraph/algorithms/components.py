"""Connected components via min-label propagation (SURVEY §2.C C2).

HashMin over the symmetrized simple graph: init label=id; every
superstep each *frontier* (changed) vertex scatters its label to its
neighbors; each vertex applies `min(label, min msgs)`; vertices vote
to halt when unchanged and terminate when the frontier is empty
(paper §2 halt semantics). Min is confluent, so the result is exact
and schedule-independent; supersteps = O(component diameter).

Expressed as a PregelSpec over the generic fused-superstep driver
(pregel.pregel_run): one combine+apply shuffle per superstep carrying
messages AND old labels as marker rows; the frontier filter implements
vote-to-halt (B6) — only changed vertices scatter, so the scatter
join's state side shrinks every superstep. The superstep itself is
`min_relax`, the one min-relaxation kernel SSSP and SCC also run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pregel import PregelSpec, RunInfo, pregel_run


def min_relax(
    links: DataFrame, state: DataFrame, frontier: DataFrame, col: str, msg: Column
) -> DataFrame:
    """One lazy min-relaxation superstep -> (id, col, changed).

    Every `frontier` row scatters `msg` (an expression over the links
    and the frontier's columns) along its out-links; the old `col` of
    every `state` row rides the same shuffle as a marker row, and ONE
    groupBy(id).agg(min(msg), max(old)) is both the combiner and the
    apply: col = min(old, min msgs), `changed` iff a message lowered
    it. HashMin components, SSSP (msg = dist + w) and SCC's coloring
    and backward-reach phases are all this step."""
    null = F.lit(None).cast(state.schema[col].dataType)
    msgs = links.join(frontier.withColumnRenamed("id", "src"), "src").select(
        "dst", msg.alias("msg"), null.alias("old")
    )
    carried = state.select(
        F.col("id").alias("dst"), null.alias("msg"), F.col(col).alias("old")
    )
    return (
        msgs.unionByName(carried)
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("msg").alias("m"), F.max("old").alias("o"))
        .select(
            "id",
            F.least(F.coalesce(F.col("m"), F.col("o")), F.col("o")).alias(col),
            F.coalesce(F.col("m") < F.col("o"), F.lit(False)).alias("changed"),
        )
    )


def components_spec() -> PregelSpec:
    def step(links, state, frontier, aggs):
        return min_relax(links, state, frontier, "comp", F.col("comp"))

    return PregelSpec(
        algo="components",
        state_cols=("comp",),
        init_state=lambda verts: verts.select("id", F.col("id").alias("comp")),
        prepare_links=symmetrize,
        step=step,
        metrics={"active": F.sum(F.col("changed").cast("long"))},
        halt=lambda a: int(a.get("active") or 0) == 0,
        frontier_filter="changed",
    )


def connected_components(
    graph: Graph,
    max_supersteps: int = 200,
    checkpointer=None,
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, comp), RunInfo). comp = min vertex id reachable."""
    return pregel_run(
        graph,
        components_spec(),
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
    )
