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


def n_exchanges(df) -> int:
    """Count LIVE shuffle exchanges by walking the physical-plan tree —
    a text count would also pick up the build plans explain() prints
    for cached InMemoryRelations, which are not executed again."""

    def walk(node) -> int:
        n = 1 if node.nodeName() == "Exchange" else 0
        for i in range(node.children().length()):
            n += walk(node.children().apply(i))
        return n

    return walk(df._jdf.queryExecution().executedPlan())


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

    def test_explicit_floor_wins(self, spark):
        assert scale_partitions(spark, 1, floor=7) == 7


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

    def test_links_prepartitioned_skips_repartition(self, spark, graph_builder):
        # components' scatter relation: exactly the symmetrize exchange,
        # no second repartition by the pregel driver (AQE off so the
        # explain shows one plan, as in the superstep loop itself)
        from linkgraph.algorithms.components import components_spec

        g = graph_builder(FX.G2_EDGES)
        spec = components_spec()
        assert spec.links_prepartitioned
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            links = spec.prepare_links(g.edges).sortWithinPartitions("src")
            assert n_exchanges(links) == 1
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


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

    def test_unsupported_metric_falls_back(self, spark, monkeypatch):
        from linkgraph import pregel

        monkeypatch.setattr(pregel, "_observe_fallback_warned", False)
        df = spark.range(0, 100).select(
            F.col("id"), (F.col("id") % 5).alias("k")
        )
        # DISTINCT aggregates are rejected by CollectMetrics at analysis
        # time — the barrier must fall back to agg().first(), say so,
        # and still return the right value
        with pytest.warns(UserWarning, match="DISTINCT"):
            _, out = pregel.Fixpoint("t", 2).barrier(
                df, {"nk": F.countDistinct("k")}
            )
        assert out["nk"] == 5

    def test_pregel_run_distinct_metric_falls_back(
        self, spark, graph_builder, monkeypatch
    ):
        # end-to-end: components over G2 with an extra DISTINCT metric
        # (fallback barrier) gives the same labels, superstep count and
        # active series as the observed-metric barrier, and warns once
        import dataclasses
        import warnings

        from linkgraph import pregel
        from linkgraph.algorithms.components import components_spec

        g = graph_builder(FX.G2_EDGES)
        spec = components_spec()
        s1, i1 = pregel.pregel_run(g, spec, max_supersteps=50)
        with_distinct = dataclasses.replace(
            spec, metrics={**spec.metrics, "n_comp": F.countDistinct("comp")}
        )
        monkeypatch.setattr(pregel, "_observe_fallback_warned", False)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            s2, i2 = pregel.pregel_run(g, with_distinct, max_supersteps=50)
        assert i2.supersteps >= 2  # the fallback ran on several barriers
        assert len([w for w in caught if "observed metrics" in str(w.message)]) == 1
        assert {tuple(r) for r in s1.collect()} == {tuple(r) for r in s2.collect()}
        assert i1.supersteps == i2.supersteps
        assert [s.active for s in i1.log] == [s.active for s in i2.log]
        assert i2.log[-1].aggregates["n_comp"] == len(
            {r["comp"] for r in s2.collect()}
        )

    def test_job_failure_propagates_without_rerun(self, spark, monkeypatch):
        # a real job failure is not an observed-metric rejection: the
        # barrier raises after ONE failed job instead of re-running the
        # plan through the agg() fallback
        from linkgraph import pregel

        monkeypatch.setattr(pregel, "_observe_fallback_warned", False)
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
        assert not pregel._observe_fallback_warned

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
