"""Maximal independent set — Luby's algorithm with pinned priorities.

Reference semantics: the reference snapshot is empty (SURVEY §0);
semantics are pinned to Luby (1986) as adapted for Pregel-style BSP:
per round r, every UNDECIDED vertex draws a priority and joins the MIS
iff it strictly beats every undecided neighbor; undecided neighbors of
new MIS members become EXCLUDED; repeat until no vertex is undecided.
The result is a maximal (not maximum) independent set, O(log n)
expected rounds.

Pinned determinism (the property that makes a SQL twin possible):
the "random" priority is the portable 60-bit md5 hash the dedup
pipeline already standardizes (pipeline/dedup.py hash_mode="portable"),
seeded by the ROUND index:

    p_r(v) = conv(substr(md5(v || ':' || r), 1, 15), 16, 10)

with ties (astronomically unlikely but pinned anyway) broken toward
the smaller vertex id — the comparison is on (p, id), which is a
strict total order. The round index comes from the engine's reserved
`_superstep` aggs key (paper §2: compute() can query the superstep),
so the sequence is identical under checkpoint/resume.

Spark shape: a PregelSpec over `pregel_run` on the SYMMETRIZED links
relation. One round = one superstep: the undecided frontier scatters
(p, id) to neighbors, a single groupBy(id).min(struct(p, id)) is the
combiner+apply (map-side partial, |V|-bounded shuffle), winners are
the undecided vertices beating their neighborhood min, and the
winner→neighbor exclusion wave is a second bounded join in the same
lazy plan. State is one byte-ish column `st`: 0 undecided, 1 in MIS,
2 excluded — integer-exact, so the driver oracle needs no rounding.

Scale: every shuffle is keyed by vertex id and map-side combined; the
per-round message volume is O(|E over undecided|), which shrinks
geometrically (Luby: a constant expected fraction of edges dies per
round), so the loop is frontier-driven in cost even though
frontier_filter is None (decided vertices produce no messages — the
filter is inside the scatter, not the driver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pregel import PregelSpec, RunInfo, pregel_run


def luby_priority(id_col, round_i):
    s = F.concat(id_col.cast("string"), F.lit(":"), F.lit(round_i).cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def mis_spec() -> PregelSpec:
    def step(links, state, frontier, aggs):
        # SQL-oracle round index is 1-based; superstep is 0-based
        r = int(aggs["_superstep"]) + 1
        # lazy localCheckpoint cuts: `und` feeds both the scatter and
        # the winner filter, `winners` feeds both the exclusion wave
        # and the final apply — without the cuts each reference
        # duplicates the whole upstream subtree in the superstep plan
        # (~34 scans of the links relation, measured). Cut, every
        # shared frame computes once inside the same barrier job.
        und = state.filter(F.col("st") == 0).select(
            "id", luby_priority(F.col("id"), r).alias("p")
        ).localCheckpoint(eager=False)
        # neighborhood min over undecided neighbors' (p, id)
        nmin = (
            links.join(
                und.select(
                    F.col("id").alias("src"),
                    F.struct(
                        F.col("p"), F.col("id").alias("nid")
                    ).alias("np"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("np").alias("m"))
        )
        winners = (
            und.join(nmin, "id", "left")
            .filter(
                F.col("m").isNull()
                | (
                    F.struct(F.col("p"), F.col("id").alias("nid"))
                    < F.col("m")
                )
            )
            .select("id")
            .localCheckpoint(eager=False)
        )
        excluded = (
            links.join(winners.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        return (
            state.join(winners.withColumn("w", F.lit(1)), "id", "left")
            .join(excluded.withColumn("x", F.lit(1)), "id", "left")
            .select(
                "id",
                F.when(F.col("st") != 0, F.col("st"))
                .when(F.col("w") == 1, F.lit(1))
                .when(F.col("x") == 1, F.lit(2))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("st"),
            )
        )

    return PregelSpec(
        algo="mis",
        state_cols=("st",),
        init_state=lambda verts: verts.select(
            "id", F.lit(0).cast("long").alias("st")
        ),
        prepare_links=symmetrize,
        links_prepartitioned=True,  # symmetrize emits hash(src) (r6)
        step=step,
        metrics={"undecided": F.sum((F.col("st") == 0).cast("long"))},
        halt=lambda m: int(m.get("undecided") or 0) == 0,
        frontier_filter=None,  # scatter filters on st==0 internally
        # decided vertices never re-examine a mutated neighborhood —
        # an edge added between two MIS members post-hoc would break
        # independence silently; refuse the combination
        mutation_safe=False,
    )


def maximal_independent_set(
    graph: Graph,
    max_rounds: int = 64,
    checkpointer=None,
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, st), RunInfo); st=1 marks the MIS members.

    Guarantees on return with info.converged: the st==1 set is
    independent (no edge inside) and maximal (every st==2 vertex has an
    MIS neighbor; no st==0 remains) — both properties are
    pytest-asserted against the symmetrized edge set.
    """
    return pregel_run(
        graph,
        mis_spec(),
        max_supersteps=max_rounds,
        checkpointer=checkpointer,
    )
