"""Skew handling for power-law degree distributions (B11).

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
3. **Salting** (this module), for the residual case: `salted_sum` —
   two-phase aggregation that spreads a single hot reduce key over S
   sub-keys before the final merge (B11). Matters when the *final*
   aggregate's single reducer for a mega-hub becomes the straggler.
   Semantics-preserving; tests assert equality with the naive plan.

Out-degree skew gets no mechanism: a hot-src broadcast scatter (B12)
measured 1.4-1.7x slower per PageRank superstep on 4 cores and was
removed. The links stay src-partitioned, so a hub's out-edges are
scanned by one task either way.
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
