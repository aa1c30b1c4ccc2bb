"""Feature propagation — K rounds of neighbor-mean smoothing.

Reference semantics: the reference snapshot is empty (SURVEY §0);
semantics are pinned to the published smoothing primitive used by SGC
(Wu et al. 2019) and "Correct & Smooth" (Huang et al. 2021):

    x_{h+1}(v) = (1 − α) · x_h(v) + α · mean_{u ∈ N(v)} x_h(u)

over the undirected simple graph; a vertex with no neighbors keeps
its value. This is the workhorse that turns raw per-node features
(degree, quality score, an embedding dimension) into
neighborhood-smoothed ones before a downstream model — and the
K-hop-mean special case (α=1) is GraphSAGE's mean aggregator.

Spark shape: per round ONE scatter join keyed on the vertex id
(reusing the graph partitioning) + a map-side-combinable (sum, count)
aggregate + a |V| state join — the exact gather/combine shape of a
PageRank superstep, so everything SURVEY §4 pins about that plan
(one exchange per round, partial aggregation before it) holds here.
Each round ends in one metric-less `pregel.fixpoint` barrier, whose
localCheckpoint keeps plan depth constant.
Vector features: call once per dimension or pre-project the needed
dimension — each round is linear, so per-dimension runs compose
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pregel import fixpoint


def propagate_features(
    graph: Graph,
    features: DataFrame,
    feature_col: str = "x",
    hops: int = 2,
    alpha: float = 0.5,
) -> DataFrame:
    """Returns (id, <feature_col>) after `hops` smoothing rounds.

    `features(id, feature_col)` must cover every vertex it wants
    smoothed; vertices of the graph missing from it start at 0.0
    (documented; pass explicit zeros to silence the assumption)."""
    if hops < 0:
        raise ValueError("hops must be >= 0")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    with fixpoint(graph, "propagate_features") as fx:
        und = symmetrize(graph.edges).persist()
        state, _ = fx.barrier(
            graph.vertices.join(features.select("id", feature_col), "id", "left")
            .select(
                "id",
                F.coalesce(F.col(feature_col), F.lit(0.0))
                .cast("double")
                .alias("x"),
            )
        )
        for _ in range(hops):
            nbr = (
                und.join(state.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.avg("x").alias("nbr_mean"))
            )
            state, _ = fx.barrier(
                state.join(nbr, "id", "left").select(
                    "id",
                    F.when(
                        F.col("nbr_mean").isNotNull(),
                        (1.0 - alpha) * F.col("x") + alpha * F.col("nbr_mean"),
                    )
                    .otherwise(F.col("x"))
                    .alias("x"),
                )
            )
        und.unpersist()
    return state.withColumnRenamed("x", feature_col)
