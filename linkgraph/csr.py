"""CSR-packed per-partition adjacency + gather-scatter kernels (A13, M5).

The north star requires adjacency stored as CSR-packed per-partition
arrays with pandas-on-Arrow gather-scatter kernels alongside the pure
DataFrame-join path. Layout:

    csr(pk: int, vids: array<long>, indptr: array<long>,
        indices: array<long>)

one row per *logical partition* pk = pmod(xxhash64(src), P). We use an
explicit, column-computable partition key (not Spark's internal
murmur3 task partitioning) so the vertex-state side can be cogrouped
by the exact same key — `cogroup().applyInPandas` then hands each
kernel invocation its partition's CSR block AND the matching state
rows, with no driver-side alignment.

Scatter kernel (one numpy pass, no per-row Python):
    outdeg  = diff(indptr)
    contrib = rank[vids]/outdeg      (gather, via searchsorted)
    msgs    = (indices, repeat(contrib, outdeg))   (scatter)
Messages leave the kernel as an Arrow batch; the combine
(`groupBy(dst).sum`) and apply stay JVM-side, identical to the join
path — so both paths share combiner/apply semantics and must agree to
float tolerance (tested).

Scale: each CSR row holds one partition's out-edges; P is chosen so a
partition's edges fit executor memory (the same constraint Spark's own
shuffle imposes). `spark.sql.execution.arrow.maxRecordsPerBatch` does
not bound applyInPandas group size — P does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.pregel import RunInfo

CSR_SCHEMA = (
    "pk int, vids array<long>, indptr array<long>, indices array<long>"
)


def partition_key(col, p: int):
    """Deterministic logical partition id, reproducible on any column."""
    return F.pmod(F.xxhash64(col), F.lit(p)).cast("int")


def pack_csr(edges: DataFrame, p: int) -> DataFrame:
    """A13: one CSR row per logical partition of the src space."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["src", "dst"])
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        vids, counts = np.unique(src, return_counts=True)
        indptr = np.concatenate(([0], np.cumsum(counts)))
        pk = int(pdf["pk"].iloc[0])
        return pd.DataFrame(
            {
                "pk": [pk],
                "vids": [vids.tolist()],
                "indptr": [indptr.tolist()],
                "indices": [dst.tolist()],
            }
        )

    keyed = edges.select("src", "dst").withColumn("pk", partition_key(F.col("src"), p))
    return keyed.groupBy("pk").applyInPandas(pack, schema=CSR_SCHEMA)


def csr_stats(csr: DataFrame) -> DataFrame:
    """Per-partition sizes — the B13 metrics view of the adjacency."""
    return csr.select(
        "pk",
        F.size("vids").alias("n_vertices"),
        F.size("indices").alias("n_edges"),
    )


def pagerank_csr(
    graph: Graph,
    d: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    dangling: str = "drop",
    checkpointer=None,
) -> tuple[DataFrame, RunInfo]:
    """PageRank with the CSR gather-scatter kernel as the scatter stage.

    Semantics identical to algorithms.pagerank (SURVEY §A.2); only the
    physical scatter differs: cogrouped applyInPandas over (csr, state)
    replaces the edges⋈state join. Expressed as a PregelSpec with
    links_key="pk" over the same generic driver (pregel.pregel_run) —
    the CSR path therefore gets checkpoint/resume and the aggregator
    machinery for free, and shares the fused combine+apply shuffle.
    """
    from linkgraph.pregel import PregelSpec, pregel_run
    from linkgraph.tuning import scale_partitions

    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"dangling must be drop|redistribute, got {dangling!r}")
    spark = graph.edges.sparkSession
    # r6: the CSR partition count scales with the graph (one CSR row =
    # one partition's adjacency, so p bounds kernel memory) and matches
    # the partition count pregel_run derives for the loop — state and
    # CSR rows cogroup on the same pk space with no re-keying.
    p = scale_partitions(spark, max(graph.num_edges, graph.num_vertices))
    n = graph.num_vertices
    if n == 0:
        raise ValueError("pagerank_csr on an empty graph (num_vertices == 0)")
    base = (1.0 - d) / n

    def scatter(key, csr_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if csr_pdf.empty or state_pdf.empty:
            return pd.DataFrame({"dst": pd.Series(dtype="int64"),
                                 "contrib": pd.Series(dtype="float64")})
        vids = np.asarray(csr_pdf["vids"].iloc[0], dtype=np.int64)
        indptr = np.asarray(csr_pdf["indptr"].iloc[0], dtype=np.int64)
        indices = np.asarray(csr_pdf["indices"].iloc[0], dtype=np.int64)
        sp = state_pdf.sort_values("id")
        sids = sp["id"].to_numpy(np.int64)
        ranks = sp["rank"].to_numpy(np.float64)
        pos = np.searchsorted(sids, vids)
        outdeg = np.diff(indptr)
        contrib = ranks[pos] / outdeg
        return pd.DataFrame(
            {"dst": indices, "contrib": np.repeat(contrib, outdeg)}
        )

    redistribute = dangling == "redistribute"
    dangling_ids = None
    n_dangling = 0
    if redistribute:
        deg_ids = graph.edges.select(F.col("src").alias("id")).distinct()
        dangling_ids = graph.vertices.join(deg_ids, "id", "left_anti").persist()
        n_dangling = dangling_ids.count()
    dm0 = n_dangling / n

    def init_state(verts):
        s = verts.select("id", F.lit(1.0 / n).cast("double").alias("rank"))
        if redistribute:
            flag = dangling_ids.select("id", F.lit(1.0).alias("is_dangling"))
            s = s.join(flag, "id", "left").withColumn(
                "is_dangling", F.coalesce(F.col("is_dangling"), F.lit(0.0))
            )
        return s

    def step(links, state, frontier, aggs):
        extra = 0.0
        if redistribute:
            # dangling mass is a spec.metrics aggregate of the PREVIOUS
            # barrier (paper §3.3) — no extra per-superstep action; the
            # first superstep uses the closed form n_dangling/n
            dm = aggs.get("dangling_mass")
            dm = dm0 if dm is None else float(dm or 0.0)
            extra = d * dm / n
        # pk computed HERE from id (never stored in state): a resumed
        # run under a different shuffle-partition count would otherwise
        # cogroup stale pk values against a freshly packed CSR
        keyed = state.withColumn("pk", partition_key(F.col("id"), p))
        # fused combine+apply (same trick as algorithms/pagerank.py)
        contribs = (
            links.groupBy("pk")
            .cogroup(keyed.groupBy("pk"))
            .applyInPandas(scatter, schema="dst long, contrib double")
            .withColumn("old", F.lit(0.0))
        )
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
            contribs = contribs.withColumn("is_dang", F.lit(0.0))
            carried_cols.append(F.col("is_dangling").alias("is_dang"))
            aggregates.append(F.max("is_dang").alias("is_dangling"))
        return (
            contribs.unionByName(state.select(*carried_cols))
            .groupBy(F.col("dst").alias("id"))
            .agg(*aggregates)
        )

    metrics = {"delta": F.sum(F.abs(F.col("rank") - F.col("rank_old")))}
    if redistribute:
        metrics["dangling_mass"] = F.sum(F.col("rank") * F.col("is_dangling"))
    spec = PregelSpec(
        algo="pagerank_csr",
        state_cols=("rank", "is_dangling") if redistribute else ("rank",),
        init_state=init_state,
        prepare_links=lambda edges: pack_csr(edges, p),
        step=step,
        metrics=metrics,
        halt=lambda a: a.get("delta") is not None and float(a["delta"]) < tol,
        frontier_filter=None,
        links_key="pk",
    )
    state, info = pregel_run(
        graph, spec, max_supersteps=max_supersteps, checkpointer=checkpointer
    )
    if dangling_ids is not None:
        dangling_ids.unpersist()
    return state.select("id", "rank"), info
