"""PageRank as Pregel supersteps over DataFrames (SURVEY §2.C C1).

Pinned semantics (SURVEY §A.2, paper §5.1): d = 0.85, init 1/N, update
`(1-d)/N + d·Σ msgs`; each vertex sends rank/outdeg along its
out-edges; dangling vertices send nothing by default (`dangling="drop"`
— the paper's program; `"redistribute"` spreads their mass uniformly,
matching library conventions). Convergence: L1 delta < tol.

Superstep plan (one Spark job of two stages, ONE shuffle — the fused
form, built by pregel.pregel_run from this module's spec; linkbench
`--trace 1` on its 3,000-vertex repo graph reads 1.135 jobs and 2.32
stages per superstep over a 37-superstep run, the excess being the
run's one-off set-up jobs):
  scatter  B2: the plain scatter is a sort-merge join links ⋈ state on
              src — links hash-partitioned P ways on src, sorted and
              checkpointed once by the driver (pregel.build_links,
              whose merge hint keeps the planner from broadcasting
              them); the state, checkpointed by the previous barrier
              hash-partitioned on id at the same P, only sorts.
  combine+apply B3/B5, fused: the old-rank rows are UNIONED into the
              message stream as (id, contrib=0, old=rank) markers, so
              a single `groupBy(id).agg(sum(contrib), sum(old))`
              produces the new rank AND carries the old one — no
              second join, no second exchange. Map-side partial agg
              is THE Pregel combiner; only combined sums cross the
              wire ("bounded per-superstep shuffle"). Measured ~2×
              faster per superstep than the join-based apply and it
              removes the one stage that didn't scale with cores.
              Stage 1 is scatter + partial combine; stage 2 the final
              combine.
  aggregate B7/B8: sum(|new-old|) — the delta accumulator (a
              spec.metrics entry), observed on the superstep barrier's
              one noop write (`Fixpoint.barrier`), which materializes
              the lazy local checkpoint in stage 2 of the same job.

Skew: in-degree skew is absorbed by the map-side partial sum (each
task pre-merges its contributions to a hot dst before shuffling). The
loop runs with AQE off (`tuning.superstep_conf`), so AQE skew-join
splitting never applies to the scatter join. Out-degree skew has no
scatter of its own: a hot-src broadcast scatter (B12) measured slower
than the plain join and was removed (see linkgraph/skew.py).

Note (negative result, measured): chaining k supersteps lazily
between barriers to amortize driver latency is a 5.7× REGRESSION —
each superstep's output is referenced twice (scatter input + the
carried-old branch), so an unmaterialized chain recomputes the
subtree ~2^k times. One materializing barrier per superstep is the
correct structure; Pregel's barrier is not overhead to skip.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import replace
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, out_degrees
from linkgraph.pregel import PregelSpec, RunInfo, pregel_run


class Scatter(NamedTuple):
    """How rank messages reach their destinations — the ONLY part that
    varies between PageRank variants (plain join, weighted join,
    csr.csr_scatter kernel); pagerank_spec is the one vertex program
    around it."""

    prepare_links: Callable[[DataFrame], DataFrame]  # edges -> links, once
    contribs: Callable[[DataFrame, DataFrame], DataFrame]  # -> (dst, contrib)
    links_key: str = "src"  # partition/sort column of links
    links_joined: bool = True  # False: contribs cogroups links (CSR)


def _outdeg_links(edges: DataFrame) -> DataFrame:
    # out-edges with the sender's degree attached: the per-superstep
    # scatter is then a single equi-join producing rank/outdeg
    deg = out_degrees(edges).withColumnRenamed("id", "src")
    return edges.join(deg, "src").select("src", "dst", "outdeg")


def _join_contribs(links: DataFrame, state: DataFrame) -> DataFrame:
    return links.join(state.withColumnRenamed("id", "src"), "src").select(
        "dst", (F.col("rank") / F.col("outdeg")).alias("contrib")
    )


PLAIN_SCATTER = Scatter(_outdeg_links, _join_contribs)


def weighted_scatter(weight_col: str) -> Scatter:
    """The degree becomes the out-weight sum and each edge carries its
    weight — contrib = rank * w / wsum. (A scatter of its own so the
    unweighted plan's float ops — and the fixed-K CTE oracles pinned to
    them — are untouched.)"""

    def prepare_links(edges):
        w = F.col(weight_col).cast("double")
        ws = edges.groupBy("src").agg(F.sum(w).alias("wsum"))
        return edges.join(ws, "src").select("src", "dst", w.alias("w"), "wsum")

    def contribs(links, state):
        return links.join(state.withColumnRenamed("id", "src"), "src").select(
            "dst", (F.col("rank") * F.col("w") / F.col("wsum")).alias("contrib")
        )

    return Scatter(prepare_links, contribs)


def _delta() -> Column:  # L1 convergence metric
    return F.sum(F.abs(F.col("rank") - F.col("rank_old")))


def _halt_below(tol: float) -> Callable[[dict], bool]:
    return lambda a: a.get("delta") is not None and float(a["delta"]) < tol


def pagerank_spec(
    n: int,
    d: float = 0.85,
    tol: float = 1e-6,
    dangling: str = "drop",
    scatter: Scatter = PLAIN_SCATTER,
    dangling_ids=None,
    n_dangling: int = 0,
) -> PregelSpec:
    """The PageRank vertex program as a PregelSpec (n = |V|, frozen).

    Exposed separately from pagerank() so plan tests gate the REAL
    superstep builder (spec.step), not a hand-built copy of it.

    dangling="redistribute" is the paper-§3.3 aggregator pattern, ONE
    action per superstep: state carries a static `is_dangling` flag,
    the dangling mass is a `spec.metrics` entry summed in the SAME
    barrier job as the delta, and superstep S+1 reads it from `aggs`
    (pregel_run feeds superstep S's aggregates forward). Superstep 1
    uses the closed form n_dangling/n (uniform init). The previous
    design — a full-|V| semi-join + sum action inside step() — paid a
    second driver action per superstep, doubling fixed latency.
    """
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"dangling must be drop|redistribute, got {dangling!r}")
    redistribute = dangling == "redistribute"
    if redistribute and dangling_ids is None:
        raise ValueError(
            "dangling='redistribute' needs dangling_ids (the vertices "
            "with no out-edges) — pagerank() threads it automatically"
        )
    base = (1.0 - d) / n
    dm0 = n_dangling / n  # dangling mass of the uniform init state

    def init_state(verts):
        s = verts.select("id", F.lit(1.0 / n).cast("double").alias("rank"))
        if redistribute:
            flag = dangling_ids.select(
                "id", F.lit(1.0).alias("is_dangling")
            )
            s = s.join(flag, "id", "left").withColumn(
                "is_dangling", F.coalesce(F.col("is_dangling"), F.lit(0.0))
            )
        return s

    def step(links, state, frontier, aggs):
        extra = 0.0
        if redistribute:
            dm = aggs.get("dangling_mass")
            dm = dm0 if dm is None else float(dm or 0.0)
            extra = d * dm / n
        contribs = scatter.contribs(links, state).withColumn("old", F.lit(0.0))
        carried_cols = [
            F.col("id").alias("dst"),
            F.lit(0.0).alias("contrib"),
            F.col("rank").alias("old"),
        ]
        aggregates = [
            (F.lit(base + extra) + F.lit(d) * F.sum("contrib")).alias("rank"),
            F.sum("old").alias("rank_old"),
        ]
        if redistribute:
            # the flag rides the carried marker rows; max() restores it
            # (contrib rows carry 0, every vertex has exactly one carried row)
            contribs = contribs.withColumn("is_dang", F.lit(0.0))
            carried_cols.append(F.col("is_dangling").alias("is_dang"))
            aggregates.append(F.max("is_dang").alias("is_dangling"))
        carried = state.select(*carried_cols)
        return (
            contribs.unionByName(carried)
            .groupBy(F.col("dst").alias("id"))
            .agg(*aggregates)
        )

    metrics = {"delta": _delta()}
    if redistribute:
        metrics["dangling_mass"] = F.sum(F.col("rank") * F.col("is_dangling"))
    return PregelSpec(
        algo="pagerank",
        state_cols=("rank", "is_dangling") if redistribute else ("rank",),
        init_state=init_state,
        prepare_links=scatter.prepare_links,
        step=step,
        metrics=metrics,
        halt=_halt_below(tol),
        frontier_filter=None,  # every vertex scatters every superstep
        links_key=scatter.links_key,
        links_joined=scatter.links_joined,
    )


def run_pagerank(
    graph: Graph, scatter: Scatter, *, d, tol, max_supersteps, dangling,
    checkpointer, algo: str = "pagerank",
) -> tuple[DataFrame, RunInfo]:
    """Run the PageRank program with `scatter` under checkpoint namespace `algo`."""
    dangling_ids = None
    try:
        n = graph.num_vertices
        if n == 0:
            raise ValueError(f"{algo} on an empty graph (num_vertices == 0)")
        n_dangling = 0
        if dangling == "redistribute":
            dangling_ids = graph.vertices.join(
                out_degrees(graph.edges), "id", "left_anti"
            ).persist()
            # one count at setup seeds superstep 1's dangling mass
            # (n_dangling/n on the uniform init); every later superstep
            # reads the mass from the previous barrier's aggregates
            n_dangling = dangling_ids.count()
        spec = pagerank_spec(
            n, d=d, tol=tol, dangling=dangling, scatter=scatter,
            dangling_ids=dangling_ids, n_dangling=n_dangling,
        )
        state, info = pregel_run(
            graph, replace(spec, algo=algo),
            max_supersteps=max_supersteps, checkpointer=checkpointer,
        )
        return state.select("id", "rank"), info
    finally:
        if dangling_ids is not None:
            dangling_ids.unpersist()


def pagerank(
    graph: Graph,
    d: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    dangling: str = "drop",
    checkpointer=None,
    weight_col: str | None = None,
) -> tuple[DataFrame, RunInfo]:
    """Returns (state(id, rank), RunInfo). float64 end-to-end (§A.6).

    weight_col: optional POSITIVE edge-weight column on graph.edges —
    build the graph with `Graph.prepare(edges, weight_cols=[...])` so
    the column survives canonicalization; each vertex then distributes
    rank proportionally to edge weight (contrib = rank * w / Σ
    out-weights) instead of uniformly.

    1/N and (1-d)/N are fixed from the graph at the start of the run.
    To rank a changed edge set, rebuild the graph with `Graph.prepare`
    and run again.
    """
    scatter = PLAIN_SCATTER
    if weight_col is not None:
        # NULLs must be caught explicitly: `w <= 0` is NULL for null
        # rows, which filter() drops — a null weight would then make
        # contrib null, F.sum would skip it, and rank mass would leak
        # silently instead of erroring
        bad = graph.edges.filter(
            F.col(weight_col).isNull() | (F.col(weight_col) <= 0)
        ).count()
        if bad:
            raise ValueError(
                f"pagerank: {bad} edge(s) have NULL or non-positive "
                f"{weight_col!r} — weights must be non-null and > 0 "
                "(zero out-weight sums divide by zero; null contribs "
                "leak rank mass)"
            )
        scatter = weighted_scatter(weight_col)
    return run_pagerank(
        graph, scatter, d=d, tol=tol, max_supersteps=max_supersteps,
        dangling=dangling, checkpointer=checkpointer,
    )


def personalized_pagerank(
    graph: Graph,
    source_ids,
    d: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
) -> tuple[DataFrame, RunInfo]:
    """Personalized PageRank: teleport mass returns to `source_ids`
    (uniformly over the set) instead of to every vertex —
    r(v) = (1-d)·pref(v) + d·Σ msgs, pref = 1/|S| on S, else 0;
    init r = pref; dangling vertices drop their mass (the paper's
    program, same as pagerank(dangling="drop")).

    A ~20-line PregelSpec over the same generic driver — the static
    preference vector rides the carried marker rows exactly like
    redistribute-mode's is_dangling flag, so the superstep stays ONE
    fused shuffle + one barrier action. It shares the plain scatter,
    the delta metric and the halt rule with pagerank_spec; its own
    step keeps the (1-d)·pref teleport.
    """
    # set semantics: duplicates collapse; every source must exist in the
    # graph — silently dropping an unknown id would shrink the teleport
    # mass and deflate every rank with no signal
    sources = sorted({int(s) for s in source_ids})
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    spark = graph.edges.sparkSession
    pref0 = 1.0 / len(sources)
    src_df = spark.createDataFrame([(s,) for s in sources], "id long")
    matched = src_df.join(graph.vertices, "id", "left_semi").count()
    if matched != len(sources):
        raise ValueError(
            f"personalized_pagerank: {len(sources) - matched} source id(s) "
            "not present in the graph"
        )

    def init_state(verts):
        flag = src_df.select("id", F.lit(pref0).alias("pref"))
        return (
            verts.join(flag, "id", "left")
            .withColumn("pref", F.coalesce(F.col("pref"), F.lit(0.0)))
            .select("id", F.col("pref").alias("rank"), "pref")
        )

    def step(links, state, frontier, aggs):
        contribs = (
            PLAIN_SCATTER.contribs(links, state)
            .withColumn("old", F.lit(0.0))
            .withColumn("pref_m", F.lit(0.0))
        )
        carried = state.select(
            F.col("id").alias("dst"),
            F.lit(0.0).alias("contrib"),
            F.col("rank").alias("old"),
            F.col("pref").alias("pref_m"),
        )
        return (
            contribs.unionByName(carried)
            .groupBy(F.col("dst").alias("id"))
            .agg(
                (
                    F.lit(1.0 - d) * F.max("pref_m")
                    + F.lit(d) * F.sum("contrib")
                ).alias("rank"),
                F.max("pref_m").alias("pref"),
                F.sum("old").alias("rank_old"),
            )
        )

    spec = PregelSpec(
        algo="ppr",
        state_cols=("rank", "pref"),
        init_state=init_state,
        prepare_links=PLAIN_SCATTER.prepare_links,
        step=step,
        metrics={"delta": _delta()},
        halt=_halt_below(tol),
        frontier_filter=None,
    )
    state, info = pregel_run(graph, spec, max_supersteps=max_supersteps)
    return state.select("id", "rank"), info
