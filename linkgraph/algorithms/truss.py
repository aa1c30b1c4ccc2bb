"""k-truss decomposition — iterated triangle-support edge peeling.

Reference semantics: the reference snapshot is empty (SURVEY §0);
semantics are pinned to the published definition (Cohen 2008): the
k-truss is the maximal subgraph of the undirected simple graph in
which every edge participates in at least k-2 triangles WITHIN the
subgraph. Computed by the standard fixpoint: repeatedly drop every
edge whose current support < k-2 until none is dropped. Peeling is
deterministic and monotone (supports only fall), so ANY round count at
or past convergence yields the identical edge set — the driver oracle
exploits this the same way the k-core one does.

Plan per round: triangle support over the surviving canonical edge
set from `triangles.oriented_wedges`, the degree-ordered wedge plan of
triangle counting (C4) — each triangle {a,b,c} is discovered exactly
once at its lowest-rank edge by intersecting above-rank adjacency
lists, so hub vertices never enumerate their full neighborhood
squared. k-truss adds only the edge credits: each triangle credits
its three canonical edges (the (u,v) wedge row carries the apex
count; the two apex-side edges come from ONE explode whose row volume
is the triangle count, not the wedge volume). One map-side-combined
groupBy sums support; an edges⋈support left join + filter peels.
Each round is one `pregel.fixpoint` barrier: it checkpoints the
surviving edge set and counts it (the count decides convergence) in
a single action, under the fixed-plan settings triangle counting
also runs with.

Scale shape: per round cost == one C4 triangle pass over the current
subgraph (shrinking every round). Rounds are bounded by the peeling
depth, typically ≪ |E|; `max_rounds` caps them explicitly for
fixed-budget runs (the driver entry runs both engine and oracle at the
same cap, making the compare exact whether or not the fixpoint was
reached).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.algorithms.triangles import oriented_wedges
from linkgraph.graph import Graph, canonical_undirected
from linkgraph.pregel import RunInfo, fixpoint


def _edge_support(edges: DataFrame) -> DataFrame:
    """(u, v, supp) triangle support per canonical edge; edges in no
    triangle are absent (callers coalesce to 0). The wedges come from
    the symmetrized edge set: canonical u < v edges are simple, so the
    two directions need no dedup."""
    _, wedges = oriented_wedges(
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    )
    # the wedge edge takes the whole apex count; each apex credits the
    # two side edges (explode volume = total triangles, not wedges)
    wedge_credit = wedges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"),
        F.col("c").alias("s"),
    )
    side_credit = (
        wedges.select("u", "v", F.explode("apexes").alias("w"))
        .select(
            F.array(
                F.struct(F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")),
                F.struct(F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")),
            ).alias("es")
        )
        .select(F.explode("es").alias("e"))
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"), F.lit(1).alias("s"))
    )
    return (
        wedge_credit.unionByName(side_credit)
        .groupBy("a", "b")
        .agg(F.sum("s").alias("supp"))
        .select(F.col("a").alias("u"), F.col("b").alias("v"), "supp")
    )


def ktruss(
    graph: Graph, k: int, max_rounds: int | None = None
) -> tuple[DataFrame, RunInfo]:
    """Returns (edges(u, v) of the k-truss, RunInfo). k >= 2; the
    2-truss is the whole simple graph (support >= 0 is vacuous)."""
    if k < 2:
        raise ValueError("ktruss: k must be >= 2")
    with fixpoint(graph, "ktruss") as fx:
        info = fx.info
        edges, vals = fx.barrier(
            canonical_undirected(graph.edges), {"active": F.count(F.lit(1))}
        )
        n = vals["active"]
        fx.start_step()  # the input edge set is not part of round 1
        info.converged = k == 2
        while not info.converged and (
            max_rounds is None or info.supersteps < max_rounds
        ):
            # localCheckpoint (not persist): truncates the logical plan so
            # round r's analysis cost stays constant instead of nesting r
            # copies of the orientation/support subtree (quadratic plan
            # blowup by round ~10 otherwise)
            kept, vals = fx.barrier(
                edges.join(_edge_support(edges), ["u", "v"], "left")
                .filter(F.coalesce(F.col("supp"), F.lit(0)) >= k - 2)
                .select("u", "v"),
                {"active": F.count(F.lit(1))},
            )
            removed, n = n - vals["active"], vals["active"]
            edges = kept
            fx.record({"delta": float(removed), "active": n})
            info.converged = removed == 0 or n == 0
    return edges, info
