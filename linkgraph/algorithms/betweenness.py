"""Betweenness centrality — Brandes' algorithm over sampled sources.

Reference semantics: the reference snapshot is empty (SURVEY §0);
semantics are pinned to the published algorithm (Brandes 2001) and its
sampled-source approximation (Brandes & Pich 2007): for each source s
in a pivot set S,

  forward:   BFS levels d(s,·) with shortest-path counts
             σ(s,v) = Σ_{u pred of v} σ(s,u)            (exact BIGINTs)
  backward:  dependency accumulation, deepest level first:
             δ(s,v) = Σ_{w succ of v} σ(s,v)/σ(s,w) · (1 + δ(s,w))
  score:     bc(v) = Σ_{s ≠ v} δ(s,v)

(undirected simple graph; "pred/succ of v" = BFS-DAG neighbors one
level closer/further from s). With S = all vertices this is exact
Brandes; the pivot form scales it to graphs where all-pairs is
impossible. Pivots are the deterministic top-degree set (ties by id),
same rule as landmark centrality.

Spark shape — the reason this algorithm is a BSP classic: both passes
are per-level joins, never per-path work.

  forward: (s, v, σ) frontier ⋈ edges on the vertex id (graph
  partitioning reused) → groupBy (s, dst) SUM(σ) — the σ recurrence IS
  the message combiner — anti-join known, localCheckpoint per hop.
  backward: for level h from deepest-1 down to 0, one join of the
  level-h vertex set against edges + the level-(h+1) (σ, δ) rows →
  groupBy (s, v) SUM — again a single combined exchange per level.

State is |S|·|V| rows at completion (pivot counts are small); path
COUNTS are BIGINT-exact (no float σ drift); δ is float with the sum
round-off the driver compare absorbs at 6 dp. Per-hop/level actions:
one count (forward emptiness) and none in the backward unroll.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pregel import RunInfo, fixpoint, log_append, log_union
from linkgraph.algorithms.centrality import pick_landmarks


def betweenness(
    graph: Graph,
    num_sources: int = 16,
    max_hops: int = 32,
    sources: DataFrame | None = None,
) -> tuple[DataFrame, RunInfo]:
    """Returns ((id, betweenness) for every vertex — raw Brandes sums
    over the pivot set, no normalization —, RunInfo).

    r6 (VERDICT r5 #2): both accumulated relations are APPEND-ONLY
    with LSM-style compaction (pregel.log_append). The forward
    pass checkpoints each hop's (s, v, d, σ) increment — the frontier,
    already materialized — and merges similar-sized parts, so a row is
    rewritten O(log depth) times (old form: re-checkpointed the whole
    relation every hop, O(depth² · |S|·|V|) write volume) while
    anti-joins and level filters scan O(log depth) parts. The backward
    pass checkpoints only each level's δ increment and joins the δ of
    the level below directly (δ rows are keyed by BFS level, so the
    accumulated union is never needed mid-pass). Each forward hop is
    one `fixpoint` barrier, logged when it reached a new vertex."""
    with fixpoint(graph, "betweenness") as fx:
        und = symmetrize(graph.edges).persist()
        src = sources if sources is not None else pick_landmarks(graph, num_sources)
        src = src.select(F.col("lm").alias("s")) if "lm" in src.columns else src

        # ---- forward: levels + exact path counts ----------------------
        seed, vals = fx.barrier(
            src.select(
                "s",
                F.col("s").alias("v"),
                F.lit(0).alias("d"),
                F.lit(1).cast("long").alias("sigma"),
            ),
            {"active": F.count(F.lit(1))},
        )
        parts: list = []
        log_append(parts, seed, vals["active"])
        frontier = seed.select("s", "v", "sigma")
        for h in range(1, max_hops + 1):
            known_keys = log_union(parts).select("s", "v")
            nxt, vals = fx.barrier(
                frontier.join(und, frontier["v"] == und["src"])
                .groupBy("s", F.col("dst").alias("w"))
                .agg(F.sum("sigma").alias("sigma"))
                .withColumnRenamed("w", "v")
                .join(known_keys, ["s", "v"], "left_anti")
                .select("s", "v", F.lit(h).alias("d"), "sigma"),
                {"active": F.count(F.lit(1))},
            )
            if vals["active"] == 0:
                fx.info.converged = True
                break
            fx.record(vals)
            log_append(parts, nxt, vals["active"])
            frontier = nxt.select("s", "v", "sigma")
        depth = fx.info.supersteps

        known = log_union(parts)

        # ---- backward: dependency accumulation, deepest level first ---
        # δ parts exist only where non-zero; each level joins the δ part
        # of the level below (δ rows are level-keyed, so only the
        # previous contrib is ever needed), checkpointed as its own
        # increment — never the whole accumulated relation
        delta_below = None
        delta_parts = []
        for lev in range(depth - 1, -1, -1):
            lev_below = known.filter(F.col("d") == lev + 1).select(
                "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
            )
            if delta_below is not None:
                lev_below = lev_below.join(
                    delta_below.select(
                        "s", F.col("v").alias("w"), F.col("delta").alias("delta_w")
                    ),
                    ["s", "w"],
                    "left",
                ).select(
                    "s", "w", "sigma_w",
                    F.coalesce("delta_w", F.lit(0.0)).alias("delta_w"),
                )
            else:
                lev_below = lev_below.select(
                    "s", "w", "sigma_w", F.lit(0.0).alias("delta_w")
                )
            lvl = known.filter(F.col("d") == lev)
            contrib = (
                lvl
                .join(und, lvl["v"] == und["src"])
                .select("s", "v", "sigma", F.col("dst").alias("w"))
                .join(lev_below, ["s", "w"])
                .groupBy("s", "v")
                .agg(
                    F.sum(
                        F.col("sigma").cast("double")
                        / F.col("sigma_w")
                        * (F.lit(1.0) + F.col("delta_w"))
                    ).alias("delta")
                )
                .localCheckpoint(eager=True)
            )
            delta_parts.append(contrib)
            delta_below = contrib

        und.unpersist()

    if delta_parts:
        delta = reduce(lambda a, b: a.unionByName(b), delta_parts)
    else:
        delta = known.select("s", "v", F.lit(0.0).alias("delta")).limit(0)
    bc = (
        delta.join(
            known.filter(F.col("d") > 0).select("s", "v"), ["s", "v"], "left_semi"
        )
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum("delta").alias("betweenness"))
    )
    out = graph.vertices.join(bc, "id", "left").select(
        "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )
    return out, fx.info
