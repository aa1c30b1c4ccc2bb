from __future__ import annotations

import pytest

from linkgraph.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="linkgraph-tests", master="local[4]", partitions=8)
    yield s
    s.stop()


def make_graph(spark, edges, extra_vertices=()):
    """Build a Graph from a literal edge list (+ isolated vertices)."""
    from linkgraph.graph import Graph

    edf = spark.createDataFrame(
        [(int(s), int(d)) for s, d in edges], "src long, dst long"
    )
    g = Graph.prepare(edf)
    if extra_vertices:
        from pyspark.sql import functions as F

        verts = g.vertices.unionByName(
            spark.createDataFrame([(int(v),) for v in extra_vertices], "id long")
        ).distinct()
        verts.persist()
        g = type(g)(
            edges=g.edges,
            vertices=verts,
            num_vertices=verts.count(),
            num_edges=g.num_edges,
        )
    return g


@pytest.fixture(scope="session")
def graph_builder(spark):
    return lambda edges, extra_vertices=(): make_graph(spark, edges, extra_vertices)


@pytest.fixture(scope="session")
def executed_stages(spark):
    """stages(tag) -> the status-store records of the stages that the
    jobs of job group `tag` executed. Skipped stages (shuffle output
    reused) are left out; the store may already have evicted them, as
    it evicts stages without a completion time first."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tracker = sc.statusTracker()

    def stages(tag: str) -> list:
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = []
        for j in tracker.getJobIdsForGroup(tag):
            for sid in tracker.getJobInfo(j).stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # evicted, so never executed
                if str(st.status()) != "SKIPPED":
                    out.append(st)
        return out

    return stages
