"""Skew handling for power-law degree distributions (B11, B12).

Three layers, cheapest first:

1. **Map-side partial aggregation** (free, automatic): every combine
   is `groupBy(dst).agg(sum/min/count)`; Catalyst emits a partial
   HashAggregate before the exchange, so a dst with in-degree 10^6
   receives at most one pre-merged row per map partition — in-degree
   skew mostly dies here.
2. **AQE skew-join splitting** (a session default, session.py): fat
   shuffle partitions of one-shot joins are split at runtime. It does
   not apply inside superstep loops, which run with AQE off
   (`tuning.superstep_conf`).
3. **Explicit mechanisms** (this module), for the residual cases:
   - `salted_sum` — two-phase aggregation that spreads a single hot
     reduce key over S sub-keys before the final merge (B11). Matters
     when the *final* aggregate's single reducer for a mega-hub
     becomes the straggler.
   - `split_hot_src` + hot-broadcast scatter (B12) — the few ultra-
     high-out-degree vertices' state rows are broadcast to the hot
     edge partitions instead of shuffling the full state into a join,
     so one hub's 10^8 out-edges never concentrate in one task's
     probe side.

All mechanisms are semantics-preserving; tests assert equality with
the naive plans (G3 star fixture, SURVEY §5.2 test 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame, key: str, value: str, salt: int = 16, out: str | None = None
) -> DataFrame:
    """Two-phase sum: groupBy(key, salt) → groupBy(key).

    The salt is `spark_partition_id() % S` — deterministic for a fixed
    partitioning, free to compute, and guaranteed to split any key
    that spans many input partitions (a hot key always does).
    """
    out = out or value
    partial = (
        df.withColumn("_salt", F.pmod(F.spark_partition_id(), F.lit(salt)))
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias(out))


def hot_vertices(degrees: DataFrame, threshold: int) -> DataFrame:
    """Vertex ids whose degree exceeds threshold. `degrees` is
    (id, outdeg|indeg|d). Expected tiny (power-law head) — always
    broadcast-joined by callers."""
    deg_col = [c for c in degrees.columns if c != "id"][0]
    return degrees.filter(F.col(deg_col) > threshold).select("id")


def split_hot_src(
    edges: DataFrame, hot_ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(hot_edges, cold_edges) split by whether src is a hot vertex.
    Both splits stream through a broadcast semi/anti join — the edge
    table is never shuffled to perform the split."""
    hot = hot_ids.select(F.col("id").alias("src"))
    return (
        edges.join(F.broadcast(hot), "src", "left_semi"),
        edges.join(F.broadcast(hot), "src", "left_anti"),
    )


def scatter_hot_broadcast(
    links: DataFrame, state: DataFrame, hot_ids: DataFrame
) -> DataFrame:
    """B12 scatter: hot-src edges join a BROADCAST copy of the (tiny)
    hot-state slice; cold edges take the normal shuffled join. Output
    schema: (dst, contrib) — same as the naive scatter.

    `links` is (src, dst, outdeg); `state` is (id, rank).
    """
    hot_src = hot_ids.select(F.col("id").alias("src"))
    state_src = state.withColumnRenamed("id", "src")
    state_hot = state_src.join(F.broadcast(hot_src), "src", "left_semi")
    state_cold = state_src.join(F.broadcast(hot_src), "src", "left_anti")
    links_hot, links_cold = split_hot_src(links, hot_ids)

    contrib = (F.col("rank") / F.col("outdeg")).alias("contrib")
    hot_part = links_hot.join(F.broadcast(state_hot), "src").select("dst", contrib)
    cold_part = links_cold.join(state_cold, "src").select("dst", contrib)
    return hot_part.unionByName(cold_part)
