"""Strongly connected components of a DIRECTED graph (beyond-paper
extra; C2's min-label components only answers the undirected question).

Algorithm: trim + forward-coloring + backward-reach — the standard
BSP/Pregel SCC construction (FW-BW coloring):

1. **Trim**: a vertex with no in-edges or no out-edges inside the
   remaining subgraph is its own SCC; peel such vertices repeatedly
   (this disposes of DAG tails, which pure coloring would otherwise
   eliminate one root per round).
2. **Color**: forward min-label propagation within the remaining
   subgraph — color(v) = min id that reaches v. Each color class
   contains its own root c (color(c) = c).
3. **Backward**: inside each color class, flag vertices that reach
   their root via edges whose BOTH endpoints share the color; the
   flagged set IS SCC(root) — assign scc = color, remove, repeat.
   All color classes are processed simultaneously per round.

Every phase is a fixpoint of one combine+apply exchange per superstep
(the same fused shape as the PregelSpec algorithms; hand-rolled here
because the outer driver interleaves three different inner fixpoints
over a shrinking vertex set). Confluent (min / or are idempotent,
commutative, associative), so the result is exact and
schedule-independent — property-tested against networkx.

Scale shape: per superstep the shuffle carries only the remaining
subgraph's messages; `remaining` shrinks every outer round, and AQE
re-plans the semi-joins to broadcasts once it fits. Worst case is
O(#SCC-DAG-levels) outer rounds after trimming; each inner fixpoint is
O(diameter of remaining). Every inner superstep and trim round is one
`pregel.fixpoint` barrier (lazy localCheckpoint + observed metrics),
under the same fixed-plan settings as pregel_run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.pregel import Fixpoint, RunInfo, fixpoint


def _min_fixpoint(
    edges: DataFrame, labels: DataFrame, fx: Fixpoint
) -> tuple[DataFrame, int]:
    """labels(id, lab) -> fixpoint of lab(dst) = min(lab(dst), lab(src))
    over the given directed edges. One exchange per superstep; the
    frontier (changed rows) is the only scatter source after step 1.

    Returns (labels, n_zero) where n_zero = #vertices with lab == 0 at
    convergence, computed by the SAME final-barrier aggregate (no extra
    action) — the backward phase's reach count rides it for free."""
    frontier = labels
    for _ in range(100_000):  # bounded by remaining-subgraph diameter
        msgs = edges.join(
            frontier.withColumnRenamed("id", "src"), "src"
        ).select("dst", F.col("lab").alias("m"), F.lit(None).cast("long").alias("o"))
        carried = labels.select(
            F.col("id").alias("dst"), F.lit(None).cast("long").alias("m"), F.col("lab").alias("o")
        )
        new, row = fx.barrier(
            msgs.unionByName(carried)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("m").alias("m"), F.max("o").alias("o"))
            .select(
                "id",
                F.least(F.coalesce(F.col("m"), F.col("o")), F.col("o")).alias("lab"),
                F.coalesce(F.col("m") < F.col("o"), F.lit(False)).alias("changed"),
            ),
            {
                "active": F.sum(F.col("changed").cast("long")),
                "z": F.sum((F.col("lab") == 0).cast("long")),
            },
        )
        fx.record(row)
        frontier = new.filter("changed").select("id", "lab")
        labels = new.select("id", "lab")
        if not row["active"]:
            return labels, int(row["z"] or 0)
    raise RuntimeError("_min_fixpoint: did not converge (cycle in driver logic?)")


def scc(
    graph: Graph, max_outer: int = 100
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, scc), RunInfo); scc = min vertex id of the
    strongly connected component (matching the oracle's normal form).
    RunInfo.supersteps counts every inner barrier across all phases.

    r6: the whole FW-BW-Trim loop runs in one `fixpoint` (AQE off,
    scale-derived partitions) — same rationale as pregel_run: every
    inner barrier replays a fixed plan shape."""
    with fixpoint(graph, "scc") as fx:
        p, info = fx.p, fx.info
        edges = graph.edges.select("src", "dst")
        info.converged = True  # every return below is; non-convergence raises
        if graph.num_vertices == 0:
            # empty graph: no outer round ever appends a part — return the
            # (vacuously converged) empty assignment with the right schema
            return graph.vertices.select("id", F.col("id").alias("scc")), info

        # driver-tracked remaining-vertex count: emptiness and per-round
        # sizes are DERIVED from each round's single aggregate action
        # (trim sum / backward-phase zero count), never probed with a
        # separate isEmpty()/count() job
        remaining_n = graph.num_vertices
        remaining = graph.vertices.repartition(p, "id").localCheckpoint()
        done_parts: list[DataFrame] = []
        for _ in range(max_outer):
            if remaining_n == 0:
                break
            # lazy localCheckpoint: materialized by the trim barrier below
            # (one job), then reused by the filters and the coloring phase
            sub = (
                edges.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .repartition(p, "src")
                .localCheckpoint(eager=False)
            )
            # ---- trim: no in-edge or no out-edge in `sub` => singleton SCC.
            # Marker left-joins instead of semi/anti pairs so ONE aggregate
            # yields the trim count and the same materialized frame serves
            # both the trimmed and the keep filters — 1 action per round.
            srcs = sub.select(F.col("src").alias("id")).distinct().withColumn(
                "_hs", F.lit(True)
            )
            dsts = sub.select(F.col("dst").alias("id")).distinct().withColumn(
                "_hd", F.lit(True)
            )
            trim_cond = F.col("_hs").isNull() | F.col("_hd").isNull()
            flags, row = fx.barrier(
                remaining.join(srcs, "id", "left").join(dsts, "id", "left"),
                {"active": F.sum(trim_cond.cast("long"))},
            )
            fx.record(row)
            n_trim = row["active"] or 0
            if n_trim:
                trimmed = flags.filter(trim_cond)
                done_parts.append(trimmed.select("id", F.col("id").alias("scc")))
                remaining = flags.filter(~trim_cond).select("id")
                remaining_n -= n_trim
                continue  # re-derive sub before coloring: trims cascade

            # ---- color: forward min-label within the remaining subgraph
            colors, _ = _min_fixpoint(
                sub, remaining.select("id", F.col("id").alias("lab")), fx
            )

            # ---- backward: reach-the-root within each color class. Flag
            # propagation = min-fixpoint with labels 0 (flagged) / id+1:
            # reuse _min_fixpoint on REVERSED same-color edges with
            # lab = 0 for roots; a vertex is in SCC(root) iff lab hits 0.
            same_color = (
                sub.join(colors.withColumnRenamed("id", "src").withColumnRenamed("lab", "cs"), "src")
                .join(colors.withColumnRenamed("id", "dst").withColumnRenamed("lab", "cd"), "dst")
                .filter(F.col("cs") == F.col("cd"))
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            init = colors.select(
                "id",
                F.when(F.col("id") == F.col("lab"), F.lit(0)).otherwise(F.lit(1)).cast("long").alias("lab"),
            )
            # n_zero from the fixpoint's final barrier = |reach set| — the
            # removed-vertex count needs no extra count() job
            reach, n_found = _min_fixpoint(same_color, init, fx)
            found = (
                reach.filter("lab = 0")
                .select("id")
                .join(colors.withColumnRenamed("lab", "scc"), "id")
                .select("id", "scc")
            )
            done_parts.append(found.localCheckpoint(eager=False))
            remaining = remaining.join(
                found.select("id"), "id", "left_anti"
            ).localCheckpoint(eager=False)
            remaining_n -= n_found
        else:
            if remaining_n:
                raise RuntimeError(
                    f"scc: not converged after {max_outer} outer rounds"
                )

        out = done_parts[0]
        for d in done_parts[1:]:
            out = out.unionByName(d)
        return out.repartition(p, "id"), info
