"""Deterministic random-walk sampling (node2vec/DeepWalk-style corpus
generation for embedding pipelines).

Reference semantics: the reference snapshot is empty (SURVEY §0);
semantics follow the published uniform-walk formulation (DeepWalk,
Perozzi et al. KDD 2014): from each start vertex take a `walk_length`-
step walk over the UNDIRECTED simple graph, choosing the next vertex
uniformly among neighbors. As with MIS/coloring (C13/C15), the
"randomness" is pinned to a deterministic hash draw so runs are
reproducible, resume-safe, and SQL-oracle-checkable:

    next(w, t) = argmin_{n ∈ N(v_t)} ( H(w || ':' || t || ':' || n), n )

with H the portable 60-bit md5 hash (pipeline.dedup.hash64 portable
mode) or xxhash64 in production mode — each neighbor gets an i.i.d.-
looking draw per (walk, step), so the argmin is a uniform choice, and
the trailing `n` tie-break makes collisions deterministic too. A walk
that reaches an isolated vertex (no neighbors — impossible on a
symmetrized edge endpoint, possible for an injected start) simply
stops extending.

Scale shape: per step ONE join of the frontier (|walks| rows) against
the symmetrized edge table keyed on src — reusing the graph's hash
partitioning — followed by a map-side-combinable min(struct) per walk.
Cost per step is O(Σ deg(v_t)) message rows, the same gather volume as
one Pregel superstep restricted to the frontier. Lineage is cut with
a localCheckpoint every `CHECKPOINT_EVERY` steps so walk_length=80
(the node2vec default) doesn't accumulate an 80-join plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pipeline.dedup import hash64

CHECKPOINT_EVERY = 10


def random_walks(
    graph: Graph,
    walk_length: int,
    num_walks: int = 1,
    seed: int = 0,
    starts: DataFrame | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Returns (walk, step, vertex): `num_walks` deterministic walks of
    up to `walk_length` steps from every vertex in `starts` (default:
    every graph vertex). walk = start_id * num_walks + r, step 0 is
    the start vertex itself.

    hash_mode="portable" pins the draw to the 60-bit md5 hash so an
    ANSI-SQL oracle reproduces every walk integer-exactly; the default
    xxhash64 is the fast production path (same plan shape)."""
    if walk_length < 0:
        raise ValueError("walk_length must be >= 0")
    if num_walks < 1:
        raise ValueError("num_walks must be >= 1")
    und = symmetrize(graph.edges)
    base = (starts if starts is not None else graph.vertices).select(
        F.col("id").alias("v")
    )
    cur = base.select(
        "v", F.explode(F.array([F.lit(r) for r in range(num_walks)])).alias("r")
    ).select((F.col("v") * num_walks + F.col("r")).alias("walk"), "v")

    out = [cur.select("walk", F.lit(0).alias("step"), F.col("v").alias("vertex"))]
    for t in range(1, walk_length + 1):
        draw = hash64(
            F.concat_ws(
                ":",
                F.col("walk").cast("string"),
                F.lit(str(t)),
                F.col("dst").cast("string"),
            ),
            seed=seed,
            mode=hash_mode,
        )
        cur = (
            cur.join(und, cur["v"] == und["src"])
            .select("walk", "dst", draw.alias("h"))
            .groupBy("walk")
            .agg(F.min(F.struct("h", "dst")).alias("m"))
            .select("walk", F.col("m.dst").alias("v"))
        )
        if t % CHECKPOINT_EVERY == 0 and t < walk_length:
            cur = cur.localCheckpoint(eager=False)
        out.append(
            cur.select("walk", F.lit(t).alias("step"), F.col("v").alias("vertex"))
        )

    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res
