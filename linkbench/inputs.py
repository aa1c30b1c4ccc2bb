"""Seeded inputs and independent reference results for the workloads.

Inputs are pure functions of their size and the workload seed. The
corpus and document inputs have fixed content (the documents are the
sf0.1 table, stored beside this file); the seed only permutes
their row order, so every output computed from them must be identical
across seeds. The uniform graph's edges are drawn from the seed.

The references never call `linkgraph` beyond its fixture oracles, so a
bug in the engine cannot also hide in the expected value.
"""

from __future__ import annotations

from pathlib import Path

import networkx as nx
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from linkgraph import fixtures as FX

# ------------------------------------------------------------------ inputs


def permuted(df: pd.DataFrame, seed: int) -> pd.DataFrame:
    order = np.random.default_rng(seed).permutation(len(df))
    return df.iloc[order].reset_index(drop=True)


def uniform_edges(spark, n_vertices: int, n_edges: int, seed: int):
    """Uniform random digraph, generated distributed: endpoints are
    xxhash64 of the row id keyed on the seed (self-loops and repeats
    are left in; Graph.prepare drops them)."""
    rid = F.col("id")
    return spark.range(n_edges).select(
        F.pmod(F.xxhash64(rid, F.lit(seed)), F.lit(n_vertices)).alias("src"),
        F.pmod(F.xxhash64(rid, F.lit(seed), F.lit(1)), F.lit(n_vertices)).alias("dst"),
    )


# the (doc_id, text) columns of the sf0.1 `documents` table, 5,000 rows
# sorted by doc_id
DOCUMENTS = Path(__file__).resolve().parent / "data" / "documents_sf0.1.parquet"


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """(doc_id, text): the first `n_docs` sf0.1 documents by doc_id,
    row order permuted by `seed`."""
    docs = pd.read_parquet(DOCUMENTS).iloc[:n_docs]
    return permuted(docs, seed)


# -------------------------------------------------------------- references


def encoded_planted_edges(corpus: FX.Corpus) -> tuple[np.ndarray, np.ndarray, int]:
    """The fixture's planted repo edges under derive_edges' documented id
    rule: dense ids by sorted repo name over the repos with an edge."""
    e = corpus.edges
    names = np.unique(np.concatenate([e["src_repo"].to_numpy(), e["dst_repo"].to_numpy()]))
    src = np.searchsorted(names, e["src_repo"].to_numpy())
    dst = np.searchsorted(names, e["dst_repo"].to_numpy())
    return src.astype(np.int64), dst.astype(np.int64), len(names)


def pagerank_ref(
    src: np.ndarray, dst: np.ndarray, n: int, d: float = 0.85, tol: float = 1e-6,
    max_iter: int = 100,
) -> tuple[np.ndarray, int]:
    """Vectorized form of fixtures.pagerank_numpy (dangling mass dropped)."""
    out = np.bincount(src, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    for it in range(max_iter):
        new = (1 - d) / n + d * np.bincount(dst, weights=r[src] / out[src], minlength=n)
        delta = float(np.abs(new - r).sum())
        r = new
        if delta < tol:
            return r, it + 1
    return r, max_iter


def components_ref(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Min-id component labels by union-find (fixtures.components_python)."""
    labels = FX.components_python(zip(src.tolist(), dst.tolist()), n)
    return np.array([labels[v] for v in range(n)])


def triangles_ref(src: np.ndarray, dst: np.ndarray) -> int:
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return sum(nx.triangles(g).values()) // 3


def lpa_ref(src: np.ndarray, dst: np.ndarray, n: int, iters: int) -> np.ndarray:
    labels = FX.lpa_python(list(zip(src.tolist(), dst.tolist())), n, max_iter=iters)
    return np.array([labels[v] for v in range(n)])
