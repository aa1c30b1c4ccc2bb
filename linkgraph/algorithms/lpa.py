"""Synchronous label propagation (community detection) — SURVEY §2.C C3.

Pinned semantics (§A.3): undirected; init label=id; every superstep
EVERY vertex adopts the most frequent label among its neighbors, ties
broken toward the SMALLEST label; a vertex with no neighbors keeps its
label; fixed `max_iter` (default 10) because sync LPA can oscillate
(FIXTURES.md G2 demonstrates a 2-cycle), with an optional early stop
at a fixpoint (a fixpoint is stable, so early-stop never changes the
final labels for runs that reach one).

Tie-break is implemented as a pure function of (count, label) — an
aggregate of `max(struct(cnt, -label))` per dst — never of arrival
order, so results are partition-invariant (the classic distributed-LPA
bug class). The agg form needs no per-group sort (vs a row_number
window) and keeps the combine map-side partial like every other
superstep aggregate. Expressed as a PregelSpec over pregel_run; every
vertex scatters every superstep (frontier_filter=None: LPA is not
monotone, so a stale neighbor label must keep being re-sent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pregel import PregelSpec, RunInfo, pregel_run


def lpa_spec(early_stop: bool = True) -> PregelSpec:
    def step(links, state, frontier, aggs):
        # fused: old labels ride the shuffle as zero-count marker rows —
        # they win argmax ONLY when the vertex has no real messages
        # (the "no neighbors keep label" rule), since any neighbor
        # label has cnt ≥ 1 > 0.
        msgs = links.join(state.withColumnRenamed("id", "src"), "src").select(
            "dst",
            "label",
            F.lit(1).cast("long").alias("c"),
            F.lit(None).cast("long").alias("old"),
        )
        carried = state.select(
            F.col("id").alias("dst"),
            "label",
            F.lit(0).cast("long").alias("c"),
            F.col("label").alias("old"),
        )
        counts = (
            msgs.unionByName(carried)
            .groupBy("dst", "label")
            .agg(F.sum("c").alias("cnt"), F.max("old").alias("old"))
        )
        # argmax by (cnt desc, label asc): max over struct(cnt, -label, label)
        return (
            counts.groupBy(F.col("dst").alias("id"))
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt").alias("c"),
                        (-F.col("label")).alias("nl"),
                        F.col("label").alias("l"),
                    )
                ).alias("w"),
                F.max("old").alias("label_old"),
            )
            .select(
                "id",
                F.col("w.l").alias("label"),
                (F.col("w.l") != F.col("label_old")).alias("changed"),
            )
        )

    return PregelSpec(
        algo="lpa",
        state_cols=("label",),
        init_state=lambda verts: verts.select("id", F.col("id").alias("label")),
        prepare_links=symmetrize,
        step=step,
        metrics={"active": F.sum(F.col("changed").cast("long"))},
        halt=(lambda a: int(a.get("active") or 0) == 0) if early_stop else (lambda a: False),
        frontier_filter=None,  # sync LPA: every vertex scatters each iter
    )


def label_propagation(
    graph: Graph,
    max_iter: int = 10,
    early_stop: bool = True,
    checkpointer=None,
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, label), RunInfo)."""
    return pregel_run(
        graph,
        lpa_spec(early_stop),
        max_supersteps=max_iter,
        checkpointer=checkpointer,
    )
