"""r6 optimization gates: scale-adaptive partitioning, superstep conf
scoping, and the one-exchange plan shapes the round introduced
(symmetrize / Graph.prepare / shingles). These pin the optimizations'
MECHANISMS so a regression is visible in CI, not just in bench noise."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from linkgraph import fixtures as FX
from linkgraph.graph import Graph, symmetrize
from linkgraph.tuning import (
    MAX_PARTITIONS,
    ROWS_PER_PARTITION,
    scale_partitions,
    superstep_conf,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def n_exchanges_in(node) -> int:
    """Shuffle exchanges in a physical-plan (JVM SparkPlan) tree."""
    n = 1 if node.nodeName() == "Exchange" else 0
    for i in range(node.children().length()):
        n += n_exchanges_in(node.children().apply(i))
    return n


def n_exchanges(df) -> int:
    """Count LIVE shuffle exchanges by walking the physical-plan tree —
    a text count would also pick up the build plans explain() prints
    for cached InMemoryRelations, which are not executed again."""
    return n_exchanges_in(df._jdf.queryExecution().executedPlan())


class TestScalePartitions:
    def test_floor_is_half_the_cores_for_small_inputs(self, spark):
        cores = spark.sparkContext.defaultParallelism
        assert scale_partitions(spark, 10) == max(2, cores // 2)

    def test_grows_with_rows_in_core_waves(self, spark):
        cores = spark.sparkContext.defaultParallelism
        big = 64 * ROWS_PER_PARTITION
        import math

        assert scale_partitions(spark, big) == math.ceil(64 / cores) * cores

    def test_capped(self, spark):
        assert scale_partitions(spark, 10**15) == MAX_PARTITIONS


class TestSuperstepConf:
    def test_sets_and_restores(self, spark):
        before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        before_p = spark.conf.get("spark.sql.shuffle.partitions")
        with superstep_conf(spark, 5):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe
        assert spark.conf.get("spark.sql.shuffle.partitions") == before_p

    def test_restores_on_exception(self, spark):
        before_p = spark.conf.get("spark.sql.shuffle.partitions")
        with pytest.raises(RuntimeError):
            with superstep_conf(spark, 3):
                raise RuntimeError("boom")
        assert spark.conf.get("spark.sql.shuffle.partitions") == before_p

    def test_pregel_uses_derived_partitions(self, spark, graph_builder):
        from linkgraph.algorithms import pagerank

        g = graph_builder(FX.G1_EDGES)
        state, info = pagerank(g, tol=1e-6, max_supersteps=2)
        # loop conf restored after the run
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        # the state partitioning followed the derived count, not the
        # session constant
        expected = scale_partitions(spark, max(g.num_edges, g.num_vertices))
        assert state.rdd.getNumPartitions() == expected


class TestOneExchangeShapes:
    def test_symmetrize_is_single_exchange(self, spark):
        # AQE off so the walkable plan is final (as in the loops that
        # consume symmetrize); with AQE on the tree is lazy stages
        edges = spark.createDataFrame(FX.G1_EDGES, "src long, dst long")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            assert n_exchanges(symmetrize(edges)) == 1
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    def test_prepare_raw_edges_single_exchange(self, spark):
        # raw (non-pre-distinct) input: dedup rides the src repartition
        edges = spark.createDataFrame(
            FX.G1_EDGES + FX.G1_EDGES, "src long, dst long"
        )
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            g = Graph.prepare(edges)
            # prepare persists, so the dedup plan lives inside the
            # InMemoryRelation — count exchanges in its build plan text
            # (no nested caches here, so the text count is exact)
            assert plan_of(g.edges).count("Exchange hashpartitioning(") == 1
            g.unpersist()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    def test_shingles_is_pure_projection(self, spark):
        # r6 second pass: shingles adds ZERO exchanges over an input
        # that already has >= one task wave of partitions (the scale
        # case), and exactly ONE round-robin up-repartition for an
        # under-split source (a one-row-group file would otherwise run
        # the whole window projection on a single core)
        from linkgraph.pipeline.dedup import shingles

        cores = spark.sparkContext.defaultParallelism
        if cores < 2:
            pytest.skip("one core: no input can be under-split")
        docs = spark.createDataFrame(
            [(1, "abcabcabc"), (2, "xyzxyz")], "doc_id long, text string"
        )
        # AQE off so the walkable plan is final: under AQE the executed
        # plan is one opaque adaptive node and every count reads 0
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            wide = docs.repartition(cores)
            assert n_exchanges(shingles(wide, k=3)) == n_exchanges(wide)
            narrow = docs.coalesce(1)
            sh = shingles(narrow, k=3)
            assert n_exchanges(sh) == n_exchanges(narrow) + 1
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        # per-doc dedup still holds: 'abc...' has exactly 3 distinct 3-grams
        rows = {(r["id"], r["shingle"]) for r in sh.collect()}
        assert {(1, "abc"), (1, "bca"), (1, "cab")} <= rows
        assert len([r for r in rows if r[0] == 1]) == 3

    @pytest.mark.parametrize(
        "algo",
        ["components", "lpa", "mis", "coloring", "semi_clustering", "kcore"],
    )
    def test_symmetrized_links_take_one_exchange(
        self, spark, graph_builder, monkeypatch, executed_stages, algo
    ):
        # a scatter relation built on graph.symmetrize: build_links'
        # repartition(p, src) over symmetrize's own hash(src) exchange at
        # the same p is dropped by the planner, so the build job runs
        # exactly one shuffle-map stage, the symmetrize exchange (under
        # the loop's own superstep_conf at its own p)
        import importlib

        from linkgraph.algorithms import semiclustering
        from linkgraph.algorithms.coloring import coloring_spec
        from linkgraph.algorithms.components import components_spec
        from linkgraph.algorithms.lpa import lpa_spec
        from linkgraph.algorithms.mis import mis_spec
        from linkgraph.pregel import build_links
        from linkgraph.tuning import loop_partitions

        # the package re-exports the function `kcore` under its module's name
        kcore = importlib.import_module("linkgraph.algorithms.kcore")
        g = graph_builder(FX.G2_EDGES)
        if algo in ("semi_clustering", "kcore"):
            # these drivers symmetrize the graph themselves and their
            # specs close over derived relations: take the graph and the
            # spec from the pregel_run call instead of running the loop
            calls = []
            module, driver = {
                "semi_clustering": (semiclustering, semiclustering.semi_clustering),
                "kcore": (kcore, lambda g: kcore.kcore(g, k=2)),
            }[algo]
            monkeypatch.setattr(
                module,
                "pregel_run",
                lambda graph, spec, **kw: calls.append((graph, spec)) or (None, None),
            )
            driver(g)
            graph, spec = calls[0]
        else:
            graph = g
            spec = {
                "components": components_spec,
                "lpa": lpa_spec,
                "mis": mis_spec,
                "coloring": coloring_spec,
            }[algo]()
        p = loop_partitions(g)
        sc = spark.sparkContext
        tag = f"build_links_{algo}"
        with superstep_conf(spark, p):
            sc.setJobGroup(tag, tag)
            try:
                build_links(spec, graph.edges, p)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        shuffle_map = [st for st in executed_stages(tag) if st.shuffleWriteRecords()]
        assert len(shuffle_map) == 1


class TestMetricBarrier:
    """r6: the superstep barrier (`pregel.Fixpoint.barrier`) evaluates
    the metrics as observed metrics during the state-materializing noop
    write (2 stages) instead of a separate agg().first() subtree (3
    stages). Values must equal the agg() form; only the analysis-time
    rejection of an observed metric may take the fallback."""

    def test_observe_and_agg_paths_agree(self, spark):
        from linkgraph.pregel import Fixpoint

        df = spark.range(0, 10_000).select(
            F.col("id"),
            (F.col("id") % 7 == 0).cast("long").alias("changed"),
            (F.col("id") % 1000).cast("double").alias("rank"),
        )
        metrics = {
            "active": F.sum("changed"),
            "max_rank": F.max("rank"),
            "n_est": F.approx_count_distinct("rank", rsd=0.02),
        }
        ck, via_obs = Fixpoint("t", 2).barrier(df, metrics)
        via_agg = df.agg(*[c.alias(k) for k, c in metrics.items()]).first()
        # integer/max/HLL aggregates are order-insensitive: bit-equal
        assert via_obs == via_agg.asDict()
        assert via_obs["active"] == 10_000 // 7 + 1
        assert via_obs["max_rank"] == 999.0
        assert ck.count() == 10_000

    def test_distinct_metric_rejected_before_any_job(self, spark):
        # observed metrics reject DISTINCT aggregates at analysis: the
        # barrier raises before it runs a single job
        from pyspark.errors import AnalysisException

        from linkgraph import pregel

        df = spark.range(0, 100).select(
            F.col("id"), (F.col("id") % 5).alias("k")
        )
        sc = spark.sparkContext
        sc.setJobGroup("barrier_distinct", "barrier_distinct")
        try:
            with pytest.raises(AnalysisException) as err:
                pregel.Fixpoint("t", 2).barrier(
                    df, {"nk": F.countDistinct("k")}
                )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert err.value.getCondition().startswith("INVALID_OBSERVED_METRICS")
        assert sc.statusTracker().getJobIdsForGroup("barrier_distinct") == []

    def test_job_failure_propagates_without_rerun(self, spark):
        # a real job failure raises after ONE failed job: the barrier
        # never re-runs the plan
        from linkgraph import pregel

        df = spark.range(0, 100).select(
            F.col("id"),
            F.when(F.col("id") == 42, F.raise_error(F.lit("boom")))
            .otherwise(F.col("id"))
            .alias("x"),
        )
        sc = spark.sparkContext
        sc.setJobGroup("barrier_fail", "barrier_fail")
        try:
            with pytest.raises(SparkRuntimeException, match="boom"):
                pregel.Fixpoint("t", 2).barrier(df, {"n": F.count(F.lit(1))})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("barrier_fail")
        assert len(jobs) == 1

    def test_empty_metrics_runs_to_max_supersteps(self, spark, graph_builder):
        # no metrics: the barrier is a bare noop write returning {}
        import dataclasses

        from linkgraph.algorithms.components import components_spec
        from linkgraph.pregel import pregel_run

        g = graph_builder(FX.G2_EDGES)
        spec = dataclasses.replace(
            components_spec(), metrics={}, halt=lambda aggs: False
        )
        state, info = pregel_run(g, spec, max_supersteps=3)
        assert info.supersteps == 3 and not info.converged
        assert [s.aggregates for s in info.log] == [{}, {}, {}]
        ref, _ = pregel_run(g, components_spec(), max_supersteps=3)
        assert {tuple(r) for r in state.collect()} == {
            tuple(r) for r in ref.collect()
        }
