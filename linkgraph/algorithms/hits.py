"""HITS (hubs & authorities, Kleinberg 1999) — link-analysis ranking.

Reference semantics: the reference snapshot is empty (SURVEY §0);
semantics are pinned to the published algorithm, the natural companion
to PageRank (C1) for a link-graph engine:

    a_i(v) = Σ_{(u,v)∈E} h_{i-1}(u)      then a_i ← a_i / ‖a_i‖₂
    h_i(u) = Σ_{(u,v)∈E} a_i(v)          then h_i ← h_i / ‖h_i‖₂

Pinned choices (mirrored exactly by the driver oracle's unrolled CTEs
in `__spark_entry__._hits_oracle_sql`): init h₀=1, a₀=0 (unnormalized
— iteration 1's normalization makes the start scale irrelevant);
directed edges as given (no symmetrize); a vertex with no in-edges has
authority 0, no out-edges hub 0; L2 normalization per phase with a
guard to 0 when the norm is 0 (empty edge set).

Spark shape: expressed as a PregelSpec over the generic `pregel_run`
loop. One HITS iteration is a two-phase superstep — a groupBy(dst)
shuffle for the authority gather, then a groupBy(src) shuffle for the
hub gather — built as ONE lazy plan per superstep, so the engine still
pays exactly one action/barrier. The two global L2 norms are 1-row
aggregates broadcast back into the plan (BroadcastNestedLoopJoin on a
1-row side — the same shape as textstats' corpus-level stats joins),
evaluated inside the same job, never collected to the driver. The
scatter relation is the pre-sorted persisted links table keyed by src
(the hub gather reuses its partitioning; the authority gather's
by-dst shuffle is inherent to HITS — on a 1000-executor cluster both
gathers are map-side-combined partial aggregates, so the shuffle
volume is |V|, not |E|).

Convergence: L1 delta of (a, h) against the previous iteration,
`tol`-thresholded, evaluated as a spec metric in the barrier job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.pregel import PregelSpec, RunInfo, pregel_run


def hits_spec(tol: float) -> PregelSpec:
    # Each `X.crossJoin(broadcast(X.agg(norm)))` references X twice, and
    # the hub phase references the whole authority phase again — naively
    # composed, the superstep plan duplicates subtrees EXPONENTIALLY
    # (~86 scans of the links relation, measured). The lazy
    # localCheckpoint cuts below make every shared intermediate compute
    # once (blocks are cached within the same barrier job; still one
    # action per superstep): the executed superstep is 2 gathers +
    # 2 one-row norm aggregates over cached frames.
    def step(links, state, frontier, aggs):
        old = state.select(
            "id", F.col("a").alias("a_old"), F.col("h").alias("h_old")
        )
        # authority phase: gather h over in-edges, L2-normalize
        ra = (
            links.join(
                old.select(F.col("id").alias("src"), "h_old"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h_old").alias("ra"))
        )
        a_raw = old.join(ra, "id", "left").withColumn(
            "ra", F.coalesce("ra", F.lit(0.0))
        ).localCheckpoint(eager=False)
        na = a_raw.agg(F.sqrt(F.sum(F.col("ra") * F.col("ra"))).alias("na"))
        an = a_raw.crossJoin(F.broadcast(na)).select(
            "id",
            "a_old",
            "h_old",
            F.when(F.col("na") > 0.0, F.col("ra") / F.col("na"))
            .otherwise(F.lit(0.0))
            .alias("a"),
        )
        an = an.localCheckpoint(eager=False)
        # hub phase: gather the NEW authorities over out-edges, normalize
        rh = (
            links.join(an.select(F.col("id").alias("dst"), "a"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("rh"))
        )
        h_raw = an.join(rh, "id", "left").withColumn(
            "rh", F.coalesce("rh", F.lit(0.0))
        ).localCheckpoint(eager=False)
        nh = h_raw.agg(F.sqrt(F.sum(F.col("rh") * F.col("rh"))).alias("nh"))
        return h_raw.crossJoin(F.broadcast(nh)).select(
            "id",
            "a",
            F.when(F.col("nh") > 0.0, F.col("rh") / F.col("nh"))
            .otherwise(F.lit(0.0))
            .alias("h"),
            "a_old",
            "h_old",
        ).select(
            "id",
            "a",
            "h",
            (
                F.abs(F.col("a") - F.col("a_old"))
                + F.abs(F.col("h") - F.col("h_old"))
            ).alias("dah"),
        )

    return PregelSpec(
        algo="hits",
        state_cols=("a", "h"),
        init_state=lambda verts: verts.select(
            "id", F.lit(0.0).alias("a"), F.lit(1.0).alias("h")
        ),
        prepare_links=lambda e: e.select("src", "dst"),
        step=step,
        metrics={"delta": F.sum("dah")},
        halt=lambda m: m.get("delta") is not None and m["delta"] < tol,
        frontier_filter=None,  # dense iteration: every vertex each step
        # normalization re-bases every score each superstep — a
        # barrier-time topology mutation's full-frontier reset is
        # harmless, but scores already propagated over removed edges
        # are NOT retracted until the next iteration re-gathers; that
        # next iteration recomputes from scratch, so HITS is safe
        mutation_safe=True,
    )


def hits(
    graph: Graph,
    tol: float = 1e-9,
    max_supersteps: int = 50,
    checkpointer=None,
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, a, h), RunInfo). `a` = authority, `h` = hub."""
    return pregel_run(
        graph,
        hits_spec(tol),
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
    )
