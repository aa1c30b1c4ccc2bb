"""Graph construction operators (SURVEY.md §2.A A7–A12).

The single source of truth is an *edge DataFrame* `edges(src: long,
dst: long)` — adjacency is derived, never an object graph. All
operators here are pure DataFrame compositions so Catalyst handles
column pruning / pushdown; the only shuffles are the distinct/groupBy
hash aggregates, each keyed on a vertex id so downstream joins reuse
the partitioning.

Scale notes:
- `canonicalize` / `symmetrize` use `distinct()` = partial+final hash
  aggregate (map-side combine absorbs duplicate edges before shuffle).
- `assign_dense_ids` uses a single global window over the *vertex*
  table (cardinality |V|, not |E|) — acceptable because |V| ≪ |E| for
  link graphs; `monotonically_increasing_id` is rejected (values
  depend on partitioning ⇒ not stable across runs, SURVEY §A.5).
- degrees are one groupBy each and are meant to be computed once and
  cached by callers (the superstep loop never recomputes them).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linkgraph.tuning import loop_partitions


def canonicalize(edges: DataFrame) -> DataFrame:
    """A7: drop self-loops, collapse duplicates → simple directed graph."""
    return (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def vertices_of(edges: DataFrame) -> DataFrame:
    """A8: distinct vertex set from both endpoints → (id: long)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def symmetrize(edges: DataFrame, partitions: int | None = None) -> DataFrame:
    """A11: undirected view — each edge in both directions, deduped.

    r6 plan shape (guide §2.4): ONE exchange instead of two. The dedup
    used to be `distinct()` (exchange on (src,dst)) followed by
    downstream repartitions on src; instead we repartition on src FIRST
    and dedup in place — hash(src) clusters equal (src,dst) rows, so
    Catalyst satisfies the aggregate's distribution with the existing
    exchange, and every downstream groupBy(src)/join(src) (degrees,
    orientation, adjacency build) reuses the partitioning with no
    further shuffle. Trade-off: duplicate edges are shuffled raw rather
    than pre-combined map-side — a loss only when the input edge list
    has a large duplication factor, which prepared graphs (already
    simple) never do.
    """
    spark = edges.sparkSession
    p = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        edges.select("src", "dst")
        .unionByName(rev)
        .filter(F.col("src") != F.col("dst"))
        .repartition(p, "src")
        .dropDuplicates(["src", "dst"])
    )


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """A12: u < v canonical edge set for triangle counting."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    """A10: (id, outdeg) — only vertices with ≥1 out-edge appear."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )


def assign_dense_ids(names: DataFrame, col: str = "repo") -> DataFrame:
    """A9: stable dense long ids == row_number over globally sorted
    names, computed WITHOUT a single-partition global sort.

    Two-pass range-partitioned scheme: (1) distinct names are
    range-partitioned P = spark.sql.shuffle.partitions ways on <col>
    (a distributed sort split into P contiguous chunks) and pinned
    with an eager localCheckpoint so the two downstream jobs see
    identical partition boundaries; (2)
    per-partition counts (P scalars) reach the driver and become a
    cumulative-offset literal map; (3) id = offset[pid] + local rank,
    where the rank window partitions by the stored pid — its exchange
    hash-partitions P ways, so every task sorts only its own chunk.

    The result is invariant to where the sampled range boundaries fall
    (any contiguous split of the total order yields the same global
    rank), hence deterministic across runs and partition counts
    (SURVEY §A.5) — unlike monotonically_increasing_id. The plan
    contains no single-partition Exchange (asserted in test_plans).
    """
    p = int(names.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = (
        names.select(col)
        .distinct()
        .repartitionByRange(p, F.col(col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if not counts:
        return d.select(F.lit(None).cast("long").alias("id"), F.col(col)).limit(0)
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(F.col(col))
    return d.select(
        (omap[F.col("_pid")] + F.row_number().over(w) - F.lit(1))
        .cast("long")
        .alias("id"),
        F.col(col),
    )


def encode_edges(
    edges_by_name: DataFrame, idmap: DataFrame, src: str = "src_repo", dst: str = "dst_repo"
) -> DataFrame:
    """Map string-keyed edges to dense long ids via two broadcast joins.

    The id map has vertex cardinality (small relative to edges) so both
    joins broadcast — no shuffle of the edge table.
    """
    src_ids = idmap.select(F.col("id").alias("src"), F.col("repo").alias(src))
    dst_ids = idmap.select(F.col("id").alias("dst"), F.col("repo").alias(dst))
    return (
        edges_by_name.join(F.broadcast(src_ids), src)
        .join(F.broadcast(dst_ids), dst)
        .select("src", "dst")
    )


@dataclass
class Graph:
    """Bundle of the per-run cached graph artifacts.

    `edges` is the simple directed edge set, repartitioned P ways on
    src and persisted by `prepare` — the scatter join in every
    superstep reuses this partitioning.
    """

    edges: DataFrame          # (src, dst) directed simple
    vertices: DataFrame       # (id)
    num_vertices: int
    num_edges: int

    @staticmethod
    def prepare(
        raw_edges: DataFrame, weight_cols: list[str] | None = None
    ) -> "Graph":
        """Canonicalize + partition + persist the edge table, P =
        spark.sql.shuffle.partitions ways on src.

        weight_cols: named extra edge columns (weights etc.) to carry
        THROUGH canonicalization — without it, canonicalize projects
        edges down to (src, dst) and a weight a user just loaded is
        silently stripped. Self-loops are still dropped; duplicate
        (src, dst) rows resolve to the lexicographic-min weight tuple
        (F.min over a struct), so the surviving row does not depend on
        the input order.
        """
        p = int(raw_edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        # r6 (guide §2.4): canonicalize with ONE exchange instead of
        # two. Repartitioning on src FIRST lets the (src,dst) dedup
        # aggregate run in place (hash(src) already clusters equal
        # (src,dst) rows), and the persisted edge table comes out
        # hash(src)-partitioned — out_degrees / scatter-link builds /
        # src-keyed joins downstream then need no further exchange.
        # Trade-off (documented in symmetrize): duplicate input edges
        # shuffle raw instead of map-side combined; callers with a
        # heavily duplicated raw edge list should pre-aggregate.
        if weight_cols:
            missing = [c for c in weight_cols if c not in raw_edges.columns]
            if missing:
                raise ValueError(
                    f"Graph.prepare: weight_cols {missing} not in edge "
                    f"columns {raw_edges.columns}"
                )
            edges = (
                raw_edges.select(
                    F.col("src").cast("long"),
                    F.col("dst").cast("long"),
                    *weight_cols,
                )
                .filter(F.col("src") != F.col("dst"))
                .repartition(p, "src")
                .groupBy("src", "dst")
                .agg(F.min(F.struct(*weight_cols)).alias("_e"))
                .select("src", "dst", "_e.*")
            )
        else:
            edges = (
                raw_edges.select(
                    F.col("src").cast("long"), F.col("dst").cast("long")
                )
                .filter(F.col("src") != F.col("dst"))
                .repartition(p, "src")
                .dropDuplicates(["src", "dst"])
            )
        edges.persist()
        # vertices: union+distinct is ONE exchange already (map-side
        # partial dedup collapses the 2|E| stream before the shuffle);
        # the old extra repartition(p, id) bought nothing — every
        # consumer (init_state, joins) re-keys or re-partitions anyway.
        verts = vertices_of(edges)
        verts.persist()
        return Graph(
            edges=edges,
            vertices=verts,
            num_vertices=verts.count(),
            num_edges=edges.count(),
        )

    def unpersist(self) -> None:
        self.edges.unpersist()
        self.vertices.unpersist()


def undirected(graph: Graph) -> tuple[Graph, DataFrame]:
    """(the symmetrized graph, its undirected degree per id): the input
    of the vertex programs whose links are the symmetrized edges
    (k-core, core number, semi-clustering). The symmetrize exchange runs
    at the superstep loop's partition count, so the loop's scatter
    relation and the degrees reuse it."""
    sym = symmetrize(graph.edges, loop_partitions(graph))
    degrees = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return replace(graph, edges=sym), degrees
