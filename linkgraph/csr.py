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
Messages leave the kernel as an Arrow batch. The CSR path is the
PageRank program (algorithms.pagerank_spec) with this kernel as its
scatter (`csr_scatter`): teleport, dangling redistribution, the fused
combine+apply (`groupBy(dst).sum`, JVM-side), metrics and halt rule
are the join path's own code, so both paths must agree to float
tolerance (tested in both dangling modes).

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

from linkgraph.algorithms.pagerank import Scatter, run_pagerank
from linkgraph.graph import Graph
from linkgraph.pregel import RunInfo
from linkgraph.tuning import loop_partitions

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


def csr_scatter(p: int) -> Scatter:
    """The CSR gather-scatter kernel as a PageRank scatter: the scatter
    relation is pack_csr(edges, p), and each superstep cogroups it with
    the state keyed by the same pk."""

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

    def contribs(links, state):
        # pk computed HERE from id (never stored in state): a resumed
        # run under a different shuffle-partition count would otherwise
        # cogroup stale pk values against a freshly packed CSR
        keyed = state.withColumn("pk", partition_key(F.col("id"), p))
        return (
            links.groupBy("pk")
            .cogroup(keyed.groupBy("pk"))
            .applyInPandas(scatter, schema="dst long, contrib double")
        )

    return Scatter(
        lambda edges: pack_csr(edges, p), contribs, links_key="pk", links_joined=False
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

    Semantics identical to algorithms.pagerank (SURVEY §A.2): it IS
    that vertex program (pagerank_spec) with `csr_scatter` in place of
    the edges⋈state join, over the same generic driver — so it gets
    checkpoint/resume (namespace "pagerank_csr"), the aggregator
    machinery and the fused combine+apply shuffle for free.
    """
    # r6: the CSR partition count scales with the graph (one CSR row =
    # one partition's adjacency, so p bounds kernel memory) and is
    # the partition count pregel_run derives for the loop — state and
    # CSR rows cogroup on the same pk space with no re-keying.
    p = loop_partitions(graph)
    return run_pagerank(
        graph, csr_scatter(p), d=d, tol=tol, max_supersteps=max_supersteps,
        dangling=dangling, checkpointer=checkpointer, algo="pagerank_csr",
    )
