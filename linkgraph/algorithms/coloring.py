"""Greedy graph coloring — Jones–Plassmann with pinned priorities.

Reference semantics: the reference snapshot is empty (SURVEY §0);
semantics are pinned to Jones & Plassmann (1993), the standard BSP
coloring: per round, every UNCOLORED vertex draws a priority; a vertex
whose (priority, id) strictly beats every uncolored neighbor colors
itself NOW with the smallest color absent from its already-colored
neighborhood (the "mex"); repeat until no vertex is uncolored. Each
round's winner set is independent among uncolored vertices and checks
its colored neighbors, so the coloring is proper, and every vertex
uses at most deg(v)+1 colors — the sequential greedy bound, achieved
distributed in O(log n) expected rounds.

Pinned determinism: identical scheme to MIS (algorithms/mis.py) — the
priority is the portable 60-bit md5 hash seeded by the round index
read from the engine's reserved `_superstep` aggs key, so runs are
deterministic, resume-exact, and regenerable in the DuckDB oracle.

The mex is computed RELATIONALLY, not with arrays (identically in the
SQL twin): for winner v with colored-neighbor color set S,

    mex(S) = min { i ∈ {0} ∪ {c+1 : c ∈ S} : i ∉ S }

i.e. candidates = 0 plus every used color + 1, anti-join the used set,
take the min. No collect_set, no per-vertex array proportional to the
degree — a hub's candidates stay |S|+1 rows, map-side combinable.

Spark shape: one superstep = one lazy plan — MIS's winner round
(`mis.luby_winners`: the neighborhood-min combine over the uncolored
frontier and the winner filter), one winner-adjacency join for used
colors, the candidate anti-join + min-agg for the mex, and the state
merge. Message volume is O(|E over uncolored|), shrinking
geometrically per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pregel import PregelSpec, RunInfo, pregel_run
from linkgraph.algorithms.mis import luby_winners


def coloring_spec() -> PregelSpec:
    def step(links, state, frontier, aggs):
        # SQL-oracle round index is 1-based; superstep is 0-based
        r = int(aggs["_superstep"]) + 1
        winners = luby_winners(links, state.filter(F.col("color") == -1), r)
        # colors already used in each winner's neighborhood
        used = (
            links.join(winners.withColumnRenamed("id", "dst"), "dst")
            .join(
                state.filter(F.col("color") >= 0).select(
                    F.col("id").alias("src"), F.col("color").alias("c")
                ),
                "src",
            )
            .select(F.col("dst").alias("id"), "c")
            .distinct()
            .localCheckpoint(eager=False)
        )
        # relational mex: candidates = {0} ∪ {c+1}, minus used, min
        cand = winners.select("id", F.lit(0).cast("long").alias("i")).unionByName(
            used.select("id", (F.col("c") + 1).alias("i"))
        )
        mex = (
            cand.join(
                used,
                (cand["id"] == used["id"]) & (cand["i"] == used["c"]),
                "left_anti",
            )
            .groupBy("id")
            .agg(F.min("i").alias("newc"))
        )
        return (
            state.join(mex, "id", "left")
            .select(
                "id",
                F.when(F.col("color") >= 0, F.col("color"))
                .when(F.col("newc").isNotNull(), F.col("newc"))
                .otherwise(F.lit(-1))
                .cast("long")
                .alias("color"),
            )
        )

    return PregelSpec(
        algo="coloring",
        state_cols=("color",),
        init_state=lambda verts: verts.select(
            "id", F.lit(-1).cast("long").alias("color")
        ),
        prepare_links=symmetrize,
        step=step,
        metrics={"uncolored": F.sum((F.col("color") == -1).cast("long"))},
        halt=lambda m: int(m.get("uncolored") or 0) == 0,
        frontier_filter=None,  # scatter filters on color == -1 internally
    )


def greedy_coloring(
    graph: Graph,
    max_rounds: int = 64,
    checkpointer=None,
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, color), RunInfo). Colors are 0-based; -1
    marks still-uncolored vertices if max_rounds is hit first.

    Guarantees on return with info.converged: no edge joins two equal
    colors (properness) and color(v) ≤ deg(v) — both pytest-asserted
    against the symmetrized edge set."""
    return pregel_run(
        graph,
        coloring_spec(),
        max_supersteps=max_rounds,
        checkpointer=checkpointer,
    )
