"""Single-source shortest paths (paper §5.2) — parity extra, SURVEY C5.

A PregelSpec whose superstep is `components.min_relax`, the
min-relaxation kernel connected components runs, with a
`dist + weight` message and a frontier that never scatters +inf.
Unweighted edges default to weight 1.0. Unreachable vertices report
+inf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.algorithms.components import min_relax
from linkgraph.graph import Graph
from linkgraph.pregel import PregelSpec, RunInfo, pregel_run

INF = float("inf")


def sssp_spec(source: int, weight_col: str | None = None) -> PregelSpec:
    def prepare_links(edges):
        if weight_col is None:
            return edges.select("src", "dst", F.lit(1.0).alias("w"))
        return edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("w")
        )

    def step(links, state, frontier, aggs):
        # never scatter +inf (unreached frontier members on the first /
        # post-resume superstep): an inf message can't lower any dist
        live = frontier.filter(F.col("dist") != INF)
        return min_relax(links, state, live, "dist", F.col("dist") + F.col("w"))

    return PregelSpec(
        algo="sssp",
        state_cols=("dist",),
        init_state=lambda verts: verts.select(
            "id",
            F.when(F.col("id") == source, F.lit(0.0))
            .otherwise(F.lit(INF))
            .alias("dist"),
        ),
        prepare_links=prepare_links,
        step=step,
        metrics={"active": F.sum(F.col("changed").cast("long"))},
        halt=lambda a: int(a.get("active") or 0) == 0,
        frontier_filter="changed",
    )


def sssp(
    graph: Graph,
    source: int,
    weight_col: str | None = None,
    max_supersteps: int = 200,
    checkpointer=None,
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, dist), RunInfo)."""
    if weight_col is not None:
        # explicit NULL check: `w < 0` is NULL for null rows and
        # filter() drops them; a null weight would silently make its
        # message null (F.min skips it), erasing the edge from the
        # relaxation. Negative weights break the min-fixpoint
        # formulation (no negative-cycle handling) — refuse both.
        bad = graph.edges.filter(
            F.col(weight_col).isNull() | (F.col(weight_col) < 0)
        ).count()
        if bad:
            raise ValueError(
                f"sssp: {bad} edge(s) have NULL or negative "
                f"{weight_col!r} — weights must be non-null and >= 0"
            )
    return pregel_run(
        graph,
        sssp_spec(source, weight_col),
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
    )
