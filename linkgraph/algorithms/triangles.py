"""Triangle counting — per-vertex and global (SURVEY §2.C C4, §A.4).

Semantics: undirected simple graph; per-vertex count = number of
triangles the vertex participates in; global total; vertices in no
triangle report 0 (present in output).

Plan (degree-ordered, the standard skew-robust scheme): orient every
undirected edge from lower to higher rank under the total order
(degree, id). Each triangle {a,b,c} with rank order a≺b≺c is then
discovered exactly once — at edge (a,b), as the common out-neighbor c
of a and b. Hub vertices in power-law graphs keep only their
above-rank neighbors, so adjacency lists are short (O(√E) amortized)
and no join row blows up. Everything is JVM-side DataFrame work
(sorted adjacency arrays and their intersection, `oriented_wedges`) —
no Python boundary. k-truss runs the same plan for its edge support.

Per-vertex credit: a triangle found at (a,b) with apex c credits a, b
(the edge endpoints, +size each) and each apex (+1 via explode).
Global = Σ commons.

A second, SQL-expressible plan (3-way self-join on a<b<c edges) is
exposed for the DuckDB oracle in __spark_entry__; tests assert both
plans agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import Graph, symmetrize
from linkgraph.pregel import RunInfo, fixpoint


def oriented_wedges(und: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(deg(id, d), wedges(u, v, apexes, c)) over `und`, a symmetrized
    simple (src, dst) relation (both directions of every edge) — the
    one degree-ordered triangle discovery plan, shared by triangle
    counting, clustering and k-truss (lazy; callers decide
    persistence). Each triangle is one wedge row: its lowest-rank edge
    (u, v) with the apex c in `apexes`."""
    # Orientation rank: (degree, id) totally orders vertices.
    # An und from symmetrize is hash(src)-partitioned (r6), so the
    # degree aggregate and the ds-join need no exchange. No explicit
    # repartition(p, src) follows the joins: when the deg joins
    # broadcast (|V| ≪ |E|) the src partitioning survives to the
    # adjacency groupBy untouched, and when they shuffle, or und is not
    # partitioned (k-truss), Catalyst inserts exactly the exchange the
    # groupBy needs anyway.
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    oriented = (
        und.join(deg.select(F.col("id").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst")
        .filter(
            (F.col("dd") > F.col("ds"))
            | ((F.col("dd") == F.col("ds")) & (F.col("dst") > F.col("src")))
        )
        .select("src", "dst")
    )
    adj = oriented.groupBy(F.col("src").alias("id")).agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )

    au = adj.select(F.col("id").alias("u"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("id").alias("v"), F.col("nbrs").alias("nbrs_v"))
    wedges = (
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(au, "u")
        .join(av, "v")
        .select(
            "u",
            "v",
            F.array_intersect("nbrs_u", "nbrs_v").alias("apexes"),
        )
        .withColumn("c", F.size("apexes").cast("long"))
        .filter(F.col("c") > 0)
    )
    return deg, wedges


def _credit_sums(wedges: DataFrame) -> DataFrame:
    """(id, triangles) for vertices in ≥1 triangle: edge endpoints get
    +|apexes| each, every apex +1 via explode."""
    credits = (
        wedges.select(F.col("u").alias("id"), F.col("c").alias("t"))
        .unionByName(wedges.select(F.col("v").alias("id"), F.col("c").alias("t")))
        .unionByName(
            wedges.select(
                F.explode("apexes").alias("id"), F.lit(1).cast("long").alias("t")
            )
        )
    )
    return credits.groupBy("id").agg(F.sum("t").alias("triangles"))


def triangle_counts(
    graph: Graph, per_vertex: bool = True
) -> tuple[DataFrame | None, int, RunInfo]:
    """Returns (per_vertex(id, triangles) | None, global_count, RunInfo).

    per_vertex=False skips the apex-credit explode — on very dense
    graphs the credits stream is 3× the triangle count, which can dwarf
    the counting itself; the global total never materializes it.

    r6: executes as one `fixpoint` step (AQE off, scale-derived
    partitions) — the wedge DAG is a fixed-shape plan like a superstep,
    and AQE's per-stage re-planning measured 2.2x slower on the bench
    graph (9-12 s vs 4.6-5.5 s cold) with identical results."""
    with fixpoint(graph, "triangles") as fx:
        fx.info.converged = True
        # the wedges are checkpointed by the barrier that sums the total
        wedges, vals = fx.barrier(
            oriented_wedges(symmetrize(graph.edges))[1], {"total": F.sum("c")}
        )
        total = int(vals["total"] or 0)
        counts = None
        if per_vertex:
            counts, _ = fx.barrier(
                graph.vertices.join(_credit_sums(wedges), "id", "left_outer")
                .select(
                    "id",
                    F.coalesce(F.col("triangles"), F.lit(0))
                    .cast("long")
                    .alias("triangles"),
                )
            )
        fx.record(vals)
    return counts, total, fx.info


def clustering_coefficient(graph: Graph) -> DataFrame:
    """(id, cc) — local clustering coefficient over the simple
    undirected graph: cc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)),
    0.0 when deg(v) < 2. Shares the degree-ordered wedge plan with
    triangle_counts but skips its global-total action and reuses ONE
    degree aggregate for both the orientation and the final formula."""
    deg, wedges = oriented_wedges(symmetrize(graph.edges))
    per_vertex = graph.vertices.join(_credit_sums(wedges), "id", "left_outer").select(
        "id",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
    )
    return per_vertex.join(deg, "id", "left_outer").select(
        "id",
        F.when(
            F.col("d") >= 2,
            (F.lit(2.0) * F.col("triangles")) / (F.col("d") * (F.col("d") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("cc"),
    )


def triangles_sql_plan(graph: Graph) -> DataFrame:
    """Global count via the 3-way self-join on a<b<c canonical edges —
    the DuckDB-oracle-checkable form (SURVEY §5.2 test 7)."""
    canon = (
        symmetrize(graph.edges)
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    e1 = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = canon.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = canon.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return (
        e1.join(e2, "y").join(e3, ["x", "z"]).agg(F.count(F.lit(1)).alias("triangles"))
    )
