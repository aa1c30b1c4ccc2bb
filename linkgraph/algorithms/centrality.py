"""Landmark (pivot) BFS distances and closeness/harmonic centrality.

Reference semantics: the reference snapshot is empty (SURVEY §0);
semantics are pinned to the published landmark approximation of
closeness (Eppstein & Wang 2004; harmonic form per Boldi & Vigna
2014): pick L pivot vertices, run one multi-source BFS over the
undirected simple graph, and score every vertex from its distances to
the pivots it can reach:

    reached(v)  = |{ lm : 0 < d(v, lm) }|          (self excluded)
    sum_dist(v) = Σ d(v, lm)
    harmonic(v) = Σ 1 / d(v, lm)
    closeness(v) = reached / sum_dist   (0.0 when nothing is reached)

Pivot choice is pinned deterministic: the L highest-degree vertices,
ties broken by ascending id — reproducible across runs and by an
ANSI-SQL oracle (no sampling RNG).

Spark shape: the BFS state is the (landmark, vertex) pair relation —
L·|V| rows at completion, fine for the small L (16–64) the
approximation calls for. Per hop (`bfs_levels`, shared with Brandes'
forward pass): frontier ⋈ edges keyed on the vertex id (reusing the
graph partitioning), one aggregate per (source, vertex), and an
anti-join against the known set — the exact frontier discipline of
the SSSP/components specs, with the source id riding along as part of
the key. Each hop's increment is checkpointed by its barrier so plan
depth stays constant. Per-hop actions: one barrier.

Scale: a 100 TB graph runs this with L≪|V| landmarks; all shuffles
are keyed on (vertex) or (landmark, vertex) — no |V|² term. BFS depth
is capped by `max_hops` (both the engine and the driver oracle cap at
the same H, so the compare is exact whether or not the frontier
drained first — an empty frontier makes further hops no-ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pregel import Fixpoint, RunInfo, fixpoint, log_append, log_union


def pick_landmarks(graph: Graph, num_landmarks: int) -> DataFrame:
    """(lm) — the num_landmarks highest-degree vertices of the
    symmetrized graph, ties by ascending id."""
    und = symmetrize(graph.edges)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    return (
        deg.orderBy(F.desc("d"), F.asc("id"))
        .limit(num_landmarks)
        .select(F.col("id").alias("lm"))
    )


def bfs_levels(
    fx: Fixpoint,
    und: DataFrame,
    sources: DataFrame,
    max_hops: int,
    *,
    count_paths: bool,
) -> DataFrame:
    """Multi-source BFS over the symmetrized edges `und` from every
    source in `sources(s)`, at most `max_hops` hops. Returns the
    (s, v, d) rows of every reached pair: d is the hop distance (0 for
    the source itself). With `count_paths` the rows also carry sigma,
    the number of shortest s-v paths (σ(s,v) = Σ σ(s,u) over the
    predecessors u, so the recurrence is the message combiner). σ is a
    DOUBLE: exact below 2^53, and deep grids or layered graphs with
    more than 2^63 shortest paths between a pair, where a BIGINT sum
    overflows, still finish. Without `count_paths` each hop only dedups
    the reached pairs: no sigma column rides the shuffles and
    checkpoints.

    The known set is APPEND-ONLY with LSM-style compaction
    (`pregel.log_append`): each hop checkpoints its increment (the new
    rows, already materialized as the frontier) and similar-sized parts
    merge, so a row is rewritten O(log depth) times while the anti-join
    scans O(log depth) parts. Each hop is one `fx` barrier, recorded
    when it reached a new pair; a hop that reaches none ends the BFS
    and marks `fx.info` converged."""
    sigma = ["sigma"] if count_paths else []
    seed, vals = fx.barrier(
        sources.select(
            "s",
            F.col("s").alias("v"),
            F.lit(0).alias("d"),
            *[F.lit(1.0).alias(c) for c in sigma],
        ),
        {"active": F.count(F.lit(1))},
    )
    parts: list = []
    log_append(parts, seed, vals["active"])
    frontier = seed.select("s", "v", *sigma)
    for h in range(1, max_hops + 1):
        known_keys = log_union(parts).select("s", "v")
        reached = frontier.join(und, frontier["v"] == und["src"])
        reached = (
            reached.groupBy("s", F.col("dst").alias("v")).agg(F.sum("sigma").alias("sigma"))
            if count_paths
            else reached.select("s", F.col("dst").alias("v")).distinct()
        )
        nxt, vals = fx.barrier(
            reached.join(known_keys, ["s", "v"], "left_anti")
            .select("s", "v", F.lit(h).alias("d"), *sigma),
            {"active": F.count(F.lit(1))},
        )
        if vals["active"] == 0:
            fx.info.converged = True
            break
        fx.record(vals)
        log_append(parts, nxt, vals["active"])
        frontier = nxt.select("s", "v", *sigma)
    return log_union(parts)


def landmark_distances(
    graph: Graph,
    num_landmarks: int = 16,
    max_hops: int = 32,
    landmarks: DataFrame | None = None,
) -> tuple[DataFrame, RunInfo]:
    """Returns ((lm, v, d) hop distances for every reached pair
    including d=0 self rows, RunInfo): `bfs_levels` from the landmarks
    under one `fixpoint` (fixed recurring plan; scale-derived
    partitions); RunInfo logs every hop that reached a new pair."""
    with fixpoint(graph, "landmark_bfs") as fx:
        und = symmetrize(graph.edges).persist()
        lms = landmarks if landmarks is not None else pick_landmarks(graph, num_landmarks)
        known = bfs_levels(
            fx, und, lms.select(F.col("lm").alias("s")), max_hops,
            count_paths=False,
        )
        und.unpersist()
    return known.select(F.col("s").alias("lm"), "v", "d"), fx.info


def double_sweep_diameter(
    graph: Graph, max_hops: int = 64
) -> tuple[DataFrame, RunInfo]:
    """Double-sweep diameter estimate (Magnien, Latapy & Habib 2009):
    BFS from the pinned start (max degree, min id — the landmark rule
    with L=1), re-BFS from the farthest vertex found (ties by min id);
    that vertex's eccentricity is a diameter LOWER bound and twice it
    an upper bound. Returns one row
    (start, far_vertex, ecc_start, diameter_lower, diameter_upper).

    Two BFS passes + two 1-row argmax collects — the standard cheap
    estimator where an exact diameter (all-pairs) is impossible."""
    spark = graph.edges.sparkSession
    d1, i1 = landmark_distances(graph, num_landmarks=1, max_hops=max_hops)
    far = (
        d1.orderBy(F.desc("d"), F.asc("v"))
        .select("lm", "v", "d")
        .first()
    )
    if far is None:
        # ADVICE r5: an edgeless (or degenerate prepared) graph yields
        # no sweep-A distances; fail loudly instead of a TypeError on
        # the None subscript below.
        raise ValueError(
            "double_sweep_diameter: graph has no edges — no BFS start "
            "exists, diameter is undefined"
        )
    lm2 = spark.createDataFrame([(int(far["v"]),)], "lm long")
    d2, i2 = landmark_distances(graph, max_hops=max_hops, landmarks=lm2)
    ecc2 = d2.agg(F.max("d")).collect()[0][0]
    out = spark.createDataFrame(
        [
            (
                int(far["lm"]),
                int(far["v"]),
                int(far["d"]),
                int(ecc2),
                2 * int(ecc2),
            )
        ],
        "start long, far_vertex long, ecc_start long, "
        "diameter_lower long, diameter_upper long",
    )
    info = RunInfo(
        "double_sweep",
        supersteps=i1.supersteps + i2.supersteps,
        converged=i1.converged and i2.converged,
    )
    return out, info


def landmark_centrality(
    graph: Graph,
    num_landmarks: int = 16,
    max_hops: int = 32,
    landmarks: DataFrame | None = None,
) -> tuple[DataFrame, RunInfo]:
    """Returns ((id, reached, sum_dist, harmonic, closeness) for EVERY
    graph vertex — unreachable ones score 0 —, RunInfo).

    closeness = reached / sum_dist is one float division of exact
    BIGINTs; harmonic = Σ 1/d is a float sum over ≤ L terms (callers
    round for cross-engine compares)."""
    dist, info = landmark_distances(
        graph, num_landmarks, max_hops, landmarks=landmarks
    )
    scores = (
        dist.filter(F.col("d") > 0)
        .groupBy(F.col("v").alias("id"))
        .agg(
            F.count(F.lit(1)).alias("reached"),
            F.sum("d").alias("sum_dist"),
            F.sum(F.lit(1.0) / F.col("d")).alias("harmonic"),
        )
    )
    out = (
        graph.vertices.join(scores, "id", "left")
        .select(
            "id",
            F.coalesce("reached", F.lit(0)).alias("reached"),
            F.coalesce("sum_dist", F.lit(0)).alias("sum_dist"),
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
            F.when(
                F.coalesce("sum_dist", F.lit(0)) > 0,
                F.col("reached").cast("double") / F.col("sum_dist"),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
        )
    )
    return out, info
