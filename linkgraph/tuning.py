"""Scale-adaptive execution tuning for the superstep loops (r6, guide §1/§2).

Two facts drive this module, both measured (OPTIMIZATION_r06.md §2):

1. A superstep's recurring plan is FIXED and tiny in shape — one
   sort-merge scatter join against a checkpointed, pre-partitioned,
   pre-sorted links relation,
   one combine exchange whose map-side partial aggregate is the Pregel
   combiner, one scalar metric aggregate. AQE's stage-by-stage
   re-planning buys nothing here (there is nothing left to re-plan)
   but costs one extra job submission + re-optimization per exchange
   PER SUPERSTEP: measured 0.68 s vs 0.33 s median superstep on the
   463k-edge corpus graph (2.1x). Value-skew is absorbed by the
   map-side combiner; structural out-degree skew is handled by the
   dedicated operator (skew.py salting), not by AQE's SMJ splitting. So the loop runs with AQE off and is restored
   to the caller's setting afterwards.

2. `spark.sql.shuffle.partitions` is a session constant (cores-derived)
   but the right partition count for a superstep scales with the
   GRAPH, not the machine: guide §2.2 wants 100 MB-1 GB per partition,
   and a 32-partition shuffle of a 10 MB message stream is pure
   scheduling overhead (measured: p=8 beats p=32 by 1.3x on the bench
   graph, and p=2 loses — the floor below keeps enough parallelism for
   the per-step compute). `scale_partitions` derives the count from
   the edge count: ~1M edge-messages (~25-50 MB) per partition, with a
   floor of half the cores so small graphs still spread over the
   machine (measured: the best cold+warm compromise for the heavier
   two-level-aggregate steps like LPA's). Large graphs get MORE partitions than the session
   constant — this is scale-adaptive in both directions, not a
   local-mode tune (a 10^12-edge graph derives ~10^6 partitions
   capped by `max_partitions`).
"""

from __future__ import annotations

import math
from contextlib import contextmanager

# ~2.5M edge messages per shuffle partition: at 24-48 bytes per
# combined message row this is ~60-120 MB — the lower edge of the
# guide's 100MB-1GB steady-state band (§2.2), kept low because
# superstep shuffles are latency-sensitive (one barrier per step) and
# partitions also bound the per-task state of the combine aggregate.
# Measured at 160M edges on the 4-executor cluster: 2.5M-row
# partitions (p=64) beat 1M-row ones (p=160) — 18.8M vs 17.7M peak
# edge-msgs/s — fewer, larger shuffle blocks win once real fetches are
# involved (§2.2's M x R block-count argument).
ROWS_PER_PARTITION = 2_500_000

# Backstop against absurd partition counts on a single driver (200k
# tasks/superstep would melt the scheduler long before the data hurts).
MAX_PARTITIONS = 200_000


def scale_partitions(spark, rows: int) -> int:
    """Partition count derived from data size, not machine size.

    Two regimes (all three anchor points measured,
    OPTIMIZATION_r06.md §2):

    - latency-bound (the whole dataset fits in a couple of target
      partitions): use max(2, cores/2) — enough parallelism to hide
      per-task latency without paying one near-empty task per core
      (p=8/16 beat p=32 by ~1.3x on the 0.5M-edge bench graphs).
    - throughput-bound: round the derived count UP to full waves of
      the cores so no core idles mid-stage — at 20M edges on 32 local
      cores, p=32 measures 16.5M edge-msgs/s vs 11.7M for a raw
      derived p=20 (12 idle cores) and 14.8M for the previous AQE
      configuration; at 160M edges on the 4x8-core cluster, p=64
      (2.5M rows each) gives the best superstep ever measured on this
      box (min step 8.50 s, 18.8M peak edge-msgs/s).
    """
    cores = spark.sparkContext.defaultParallelism
    lo = max(2, cores // 2)
    derived = math.ceil(max(int(rows), 1) / ROWS_PER_PARTITION)
    if derived <= 2:
        p = lo
    else:
        p = math.ceil(derived / cores) * cores
    return int(min(max(p, lo), MAX_PARTITIONS))


def loop_partitions(graph) -> int:
    """The shuffle partition count of a superstep loop over `graph`:
    scale_partitions over its larger side. A relation built outside the
    loop at this count (a symmetrized edge set, an adjacency) is
    co-partitioned with the loop's state and scatter relation."""
    return scale_partitions(
        graph.edges.sparkSession, max(graph.num_edges, graph.num_vertices)
    )


def ensure_min_partitions(df):
    """Round-robin repartition a compute-heavy source UP to one task
    wave — only when its scan is under-split (fewer partitions than
    cores). A small input read as a single parquet split (one row
    group) otherwise serializes the whole downstream projection on one
    core: measured on the 5 MB / 1-row-group bench documents table, the
    shingle+hash map side ran 1 task while 31 cores idled; on 4 cores
    the contract MinHash-LSH query over the one-row-group sf0.1
    documents ran 15.4 s without it and 5.1 s with it (warm medians).
    Only worth it ahead of heavy map work: `textstats.tokenize`'s
    split+explode is cheaper than the exchange. At scale,
    inputs arrive with >= cores splits and this returns df unchanged —
    no exchange is added (the zero-shuffle plan shapes hold exactly
    when the data is big enough for the shuffle to matter). The
    shuffled bytes in the small case are the raw input itself, bounded
    by cores x split-size.
    """
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


@contextmanager
def superstep_conf(spark, partitions: int):
    """Run a superstep loop under fixed-plan execution settings.

    - adaptive execution OFF (fixed recurring plan; AQE re-planning is
      pure per-step driver overhead — measured 2.1x, see module doc)
    - shuffle.partitions = the scale-derived count, so the loop's
      combine exchange and explicit repartitions agree (one
      partitioning shared across supersteps, no AQE coalescing needed)

    Both settings are restored on exit, so surrounding non-loop queries
    keep the session defaults (AQE on, cores-derived partitions).

    Threading note: session conf is global to the SparkSession, and a
    superstep loop is a sequence of driver barriers, so the engine's
    drivers are single-threaded by construction; nesting (a loop
    launched from inside another loop's ctx, e.g. the dedup closure's
    CC run) is fine — restores are LIFO. Running two INDEPENDENT loops
    from concurrent driver threads on one session was never supported.
    """
    conf = spark.conf
    changes = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(int(partitions)),
    }
    # both keys have defaults, so get() always resolves (even after unset)
    saved = {k: conf.get(k) for k in changes}
    for k, v in changes.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            conf.set(k, old)
