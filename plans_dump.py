#!/usr/bin/env python
"""Dump .explain("formatted") for the optimization round's evidence.

    python plans_dump.py plans/r06 before   # or: after

Covers (a) the bench.py headline query shapes, (b) representative
declared queries() entries, (c) the single-superstep plans of the
iterative algorithms (the unit the optimization targets — a full
37-superstep lineage is unreadable and its cost is per-step anyway).

Each file is <name>_<tag>.txt. Runs at sf0.01 (plan shape, not data
volume, is what matters; sizes only flip broadcast decisions, noted in
OPTIMIZATION_r06.md where relevant).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout


def dump(out_dir: str, tag: str, sf_dir: str) -> None:
    from linkgraph.session import get_spark

    spark = get_spark(
        app="plans-dump",
        master="local[8]",
        partitions=8,
        extra_conf={"spark.local.dir": "/dev/shm/spark-local"},
    )
    import __spark_entry__ as E
    from linkgraph import fixtures as FX
    from linkgraph.algorithms.components import components_spec
    from linkgraph.algorithms.lpa import lpa_spec
    from linkgraph.algorithms.pagerank import pagerank_spec
    from linkgraph.corpus import derive_edges
    from linkgraph.graph import Graph, symmetrize, out_degrees
    from linkgraph.pipeline.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from linkgraph.pipeline.similarity import with_cosine
    from linkgraph.pipeline.textstats import tfidf_top_terms
    from linkgraph.pipeline.similarity import rp_lsh_signatures
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    def write(name, df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(buf.getvalue())
        print("wrote", name)

    # --- bench shapes -------------------------------------------------
    raw_edges = E._copurchase_edges(spark, sf_dir)
    write("graph_build_edges", raw_edges)

    g = Graph.prepare(raw_edges)
    write("graph_build_vertices", g.vertices)

    # one fused superstep over links/state EXACTLY as pregel_run holds
    # them mid-loop: links checkpointed by build_links, state a
    # localCheckpoint, the whole thing under the loop's superstep_conf
    # (so the dump shows the recurring per-step plan the loop actually
    # executes, not the one-time build lineage or the session's AQE)
    from linkgraph.pregel import build_links
    from linkgraph.tuning import scale_partitions, superstep_conf

    p_steps = scale_partitions(spark, max(g.num_edges, g.num_vertices))

    def mid_loop(spec):
        links = build_links(spec, g.edges, p_steps)
        state = (
            spec.init_state(g.vertices).repartition(p_steps, "id").localCheckpoint()
        )
        return spec.step(links, state, state, {"_superstep": 0})

    with superstep_conf(spark, p_steps):
        write("pagerank_superstep", mid_loop(pagerank_spec(n=g.num_vertices)))
        write("components_superstep", mid_loop(components_spec()))
        write("lpa_superstep", mid_loop(lpa_spec(early_stop=False)))

        # the metric BARRIER around that step: the r6 observe form puts
        # the global aggregators in a CollectMetrics node evaluated
        # during the state-materializing action itself (no separate
        # aggregate subtree / final single-partition stage); the pre-r6
        # form was a standalone agg(...) plan over the checkpointed
        # state (partial agg -> single-partition exchange -> final agg)
        from pyspark.sql import Observation

        spec = pagerank_spec(n=g.num_vertices)
        stepped = mid_loop(spec).localCheckpoint(eager=False)
        mcols = [c.alias(k) for k, c in spec.metrics.items()]
        write(
            "pagerank_metric_barrier",
            stepped.observe(Observation(), *mcols)
            if tag == "after"
            else stepped.agg(*mcols),
        )

    # corpus derivation (small R so plan dump is quick; same shape)
    c = FX.gen_corpus(R=500, F=2)
    corpus = spark.createDataFrame(c.files)
    exports = spark.createDataFrame(c.exports)
    _, _, cedges = derive_edges(corpus, exports)
    write("corpus_derive", cedges)

    from linkgraph.algorithms import triangle_counts
    from linkgraph.algorithms.triangles import oriented_wedges

    _, wedges = oriented_wedges(symmetrize(g.edges))
    write("corpus_triangles_wedges", wedges)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = shingles(docs, k=5)
    write("minhash_shingles", sh)
    sig = minhash_signatures(sh, num_hashes=16)
    write("minhash_signatures", sig)
    write("minhash_lsh_pairs", lsh_candidate_pairs(sig, bands=4, num_hashes=16))

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    write(
        "knn_cosine",
        with_cosine(emb, qvec).orderBy(F.desc("cosine")).limit(10),
    )
    write("tfidf_top3", tfidf_top_terms(docs, top_n=3))
    write("rp_lsh_sigs", rp_lsh_signatures(emb, nbits=16).groupBy("sig").count())

    # --- representative declared queries ------------------------------
    qs = E.queries()
    for name in (
        "copurchase_edges",
        "out_degree",
        "dense_vertex_ids",
        "pagerank_step1",
        "triangles_pervertex",
        "minhash_lsh_candidates",
        "doc_chunks",
        "doc_sample_hash",
        "contamination_report",
        "link_prediction_scores",
    ):
        try:
            write(name, qs[name](spark, sf_dir))
        except Exception as exc:  # pragma: no cover
            print(f"SKIP {name}: {exc}")

    spark.stop()


if __name__ == "__main__":
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r06"
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.01")
    dump(out_dir, tag, sf_dir)
