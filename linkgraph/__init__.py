"""linkgraph — a PySpark-native Pregel-style link-graph analytics engine.

Built from scratch on the DataFrame API (SURVEY.md). Semantics are
pinned by Malewicz et al., "Pregel" (SIGMOD 2010) and the decisions
ledger in SURVEY.md §A; the reference repo (fmlab-iis/Pregel) snapshot
was empty at survey time, so no file:line citations into it exist
(SURVEY.md §0).

Public surface:
    session.get_spark        — pinned SparkSession builder
    graph.Graph              — edges/vertices bundle (prepare)
    pregel.pregel_run / PregelSpec — the generic vertex-program driver:
                               write a new algorithm as a ~20-line spec
                               (init_state, prepare_links, step,
                               metrics = user-defined aggregators,
                               halt, frontier_filter); supports
                               checkpoint/resume (paper §3.3/§4.2)
    algorithms.pagerank      — PageRank (d=0.85, L1 delta < tol)
    algorithms.connected_components — min-label propagation
    algorithms.label_propagation    — sync LPA, pinned tie-break
    algorithms.triangles     — per-vertex + global triangle counts
    algorithms.sssp          — single-source shortest paths
    corpus.derive_edges      — (repo,path,commit,lang,content) → edges
    csr.pack_csr / csr.pagerank_csr — CSR kernels (Arrow/pandas path);
                               pagerank_csr = PageRank with a CSR scatter
    checkpoint.CheckpointManager — snapshot/lineage/resume seam
    pipeline.*               — dedup (exact/MinHash-LSH/SimHash),
                               similarity (cosine/IVF), textstats
"""

__version__ = "0.1.0"
