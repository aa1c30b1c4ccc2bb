"""Physical-plan quality gates: the scale properties SURVEY §4 promises
must be visible in explain() output, not just intended.

These tests pin: (1) parquet column pruning + predicate pushdown reach
the scan, (2) the Pregel combiner exists as a map-side partial
aggregate before the exchange, (3) the exports-manifest resolution
join broadcasts (the import stream must never shuffle), (4) top-k
plans as TakeOrderedAndProject, not a global sort.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkgraph import fixtures as FX
from linkgraph.corpus import extract_imports, resolve_edges
from linkgraph.graph import Graph, out_degrees


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def corpus_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("corpus") / "files.parquet")
    c = FX.gen_corpus(R=30, F=3)
    spark.createDataFrame(c.files).write.mode("overwrite").parquet(p)
    return p, c


def test_scan_prunes_columns_and_pushes_filters(spark, corpus_parquet):
    path, _ = corpus_parquet
    corpus = spark.read.parquet(path)
    q = corpus.filter(F.col("lang") == "python").select("repo", "lang")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,python)]" in plan
    # content (the fat column) must NOT be read for this projection
    assert "ReadSchema: struct<repo:string,lang:string>" in plan


def test_extraction_reads_only_needed_columns(spark, corpus_parquet):
    path, _ = corpus_parquet
    corpus = spark.read.parquet(path)
    plan = plan_of(extract_imports(corpus))
    # pruned to the three columns the extractor touches — commit/path dropped
    assert "path" not in plan.split("ReadSchema")[1][:120]


def test_combine_has_mapside_partial_aggregate(spark, graph_builder):
    g = graph_builder(FX.G1_EDGES)
    deg = out_degrees(g.edges)
    plan = plan_of(deg)
    # partial_count before the exchange, final count after = Pregel combiner
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("count(1)")


def test_resolution_join_is_broadcast(spark, corpus_parquet):
    path, c = corpus_parquet
    corpus = spark.read.parquet(path)
    exports = spark.createDataFrame(c.exports)
    plan = plan_of(resolve_edges(extract_imports(corpus), exports))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the import stream never shuffles here


def test_topk_is_take_ordered(spark, graph_builder):
    g = graph_builder(FX.g3_star_edges(50))
    q = out_degrees(g.edges).orderBy(F.desc("outdeg")).limit(5)
    assert "TakeOrderedAndProject" in plan_of(q)


def test_sorted_cache_skips_edge_sort(spark):
    """A src-sorted cached edge table must join sort-free on the edge
    side — the per-superstep O(|E| log |E|) sort would otherwise repeat
    every iteration at scale."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.range(0, 10000).select(
            (F.col("id") % 100).alias("src"), ((F.col("id") * 7) % 100).alias("dst")
        )
        state = spark.range(0, 100).select(
            F.col("id").alias("src"), F.lit(0.5).alias("rank")
        ).localCheckpoint()
        links = edges.repartition(8, "src").sortWithinPartitions("src").persist()
        links.count()
        # the section before the first InMemoryRelation is the edge-side
        # subtree of the SMJ — it must contain NO Sort (the state side,
        # printed later, still sorts; that's |V|, not |E|)
        live = plan_of(links.join(state, "src")).split("InMemoryRelation")[0]
        assert "SortMergeJoin" in live
        assert live.count("Sort [") == 0, live
        links.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dense_ids_have_no_single_partition_exchange(spark):
    """assign_dense_ids must never funnel the vertex table through one
    task (the old row_number-over-global-ORDER plan did): at corpus
    scale |V| is 10^8–10^9 and a single-partition sort is THE
    scale-killer. The two-pass plan's window partitions by pid."""
    from linkgraph.graph import assign_dense_ids

    names = spark.range(0, 5000).select(
        F.concat(F.lit("repo-"), F.col("id").cast("string")).alias("repo")
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ids = assign_dense_ids(names, "repo")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    plan = plan_of(ids)
    assert "Exchange SinglePartition" not in plan, plan
    assert ids.count() == 5000


def test_dense_ids_equal_global_window_form(spark):
    """Property: the two-pass scheme must produce EXACTLY the ids of
    row_number() over the global order, for any partition count."""
    from pyspark.sql import Window

    from linkgraph.graph import assign_dense_ids

    names = spark.createDataFrame(
        [(f"r{i:04d}",) for i in range(0, 997, 3)], "repo string"
    )
    w = Window.orderBy("repo")
    want = {
        (r["id"], r["repo"])
        for r in names.distinct()
        .select((F.row_number().over(w) - 1).cast("long").alias("id"), "repo")
        .collect()
    }
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for p in (1, 4, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(p))
            got = {
                (r["id"], r["repo"])
                for r in assign_dense_ids(names, "repo").collect()
            }
            assert got == want, f"partitions={p}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def node_names(node):
    """Every node name of a physical-plan (JVM SparkPlan) tree."""
    yield node.nodeName()
    for i in range(node.children().length()):
        yield from node_names(node.children().apply(i))


def find_node(node, name):
    """The first node called `name` in a pre-order walk, or None."""
    if node.nodeName() == name:
        return node
    for i in range(node.children().length()):
        hit = find_node(node.children().apply(i), name)
        if hit is not None:
            return hit
    return None


def test_superstep_shuffle_is_bounded(spark, graph_builder):
    """The fused superstep must contain exactly ONE exchange (the
    combine over the message stream) — no apply-join exchange, no
    state exchange, no broadcast — and the scatter join must be a
    sort-merge join whose links side neither shuffles nor sorts. Gates
    the REAL vertex program: the plan under test is built by
    pagerank_spec().step over build_links, with the state laid out as
    pregel_run carries it (hash-partitioned on id at p), under the
    loop's fixed-plan settings."""
    from linkgraph.algorithms.pagerank import pagerank_spec
    from linkgraph.pregel import build_links
    from linkgraph.tuning import superstep_conf

    g = graph_builder(FX.G1_EDGES)
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spec = pagerank_spec(g.num_vertices)
    with superstep_conf(spark, p):
        links = build_links(spec, g.edges, p)
        state = spec.init_state(g.vertices).repartition(p, "id").localCheckpoint()
        plan = spec.step(links, state, state, {})._jdf.queryExecution().executedPlan()
    names = list(node_names(plan))
    assert names.count("Exchange") == 1, plan.toString()
    assert "BroadcastExchange" not in names, plan.toString()
    smj = find_node(plan, "SortMergeJoin")
    assert smj is not None, plan.toString()
    links_side = set(node_names(smj.left()))
    assert not links_side & {"Sort", "Exchange"}, plan.toString()


def test_tfidf_scan_prunes_and_window_is_per_doc(spark, tmp_path_factory):
    """TF-IDF over a parquet documents table must (a) read ONLY
    (doc_id, text) — not lang/source/n_chars — and (b) rank with a
    window partitioned by doc_id (bounded partitions), never a global
    sort of the scored table."""
    from linkgraph.pipeline.textstats import tfidf_top_terms

    p = str(tmp_path_factory.mktemp("docs") / "d.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta doc {i}", "en", "s", 10) for i in range(20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(p)
    q = tfidf_top_terms(spark.read.parquet(p), top_n=2)
    plan = plan_of(q)
    sched = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in sched and "text" in sched
    assert "lang" not in sched and "source" not in sched
    assert "windowspecdefinition(doc_id" in plan
    # no global sort: Sort nodes print "Sort [...], <global>, 0" — the
    # window's per-partition sort is 'false'; a 'true' would mean a
    # whole-table range exchange snuck in
    for frag in plan.split("Sort [")[1:]:
        head = frag[:300].split("], ", 1)
        assert len(head) == 2 and not head[1].startswith("true")


def test_linkpred_wedge_join_no_cartesian_mapside_agg(spark, graph_builder):
    """The wedge enumeration must be an equi-join on the center key
    (no cartesian/BNL), and the pair scoring aggregate must have a
    map-side partial before its exchange — the shuffle carries
    combined (u, v) partials, not raw wedges."""
    from linkgraph.algorithms import link_prediction

    g = graph_builder([(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)])
    q = link_prediction(g)
    plan = plan_of(q)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # partial_count deeper in the plan text than the final count = the
    # wedge aggregate combines map-side before its exchange
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("count(1)")


def test_sample_hash_is_pure_filter_no_exchange(spark):
    """Bernoulli-by-hash sampling must compile to a scan + filter with
    ZERO exchanges — the property that makes it the only sampling
    shape usable at 10^12 rows."""
    from linkgraph.pipeline import sample_hash

    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(100)], "id long, text string"
    )
    plan = plan_of(sample_hash(df, 0.3, "id"))
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_chunking_no_exchange(spark):
    """Chunking is one JVM projection: explode + slice, no shuffle."""
    from linkgraph.pipeline import chunk_documents

    df = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(10)],
        "doc_id long, text string",
    )
    plan = plan_of(chunk_documents(df, 4, 1))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode
    assert "PythonUDF" not in plan and "MapInPandas" not in plan


def test_walk_step_is_single_combined_exchange(spark, graph_builder):
    """One walk step = frontier join + min(struct) combine; the
    aggregate must partial-combine map-side (the draw argmin IS the
    combiner), no cartesian joins anywhere."""
    from linkgraph.algorithms import random_walks

    g = graph_builder([(0, 1), (1, 2), (2, 3), (3, 0)])
    plan = plan_of(random_walks(g, walk_length=1))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_min" in plan
