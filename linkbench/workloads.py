"""The three workloads: inputs, timed operations, warm-up and checks.

Each workload builds its inputs from the seed (`build_inputs`, part of
set-up, repeated), warms the JVM and Spark's code generation on those
inputs (`warm_up`, also set-up), and lists its timed operations
(`ops`). An operation takes a tracer (spans.NullTracer when untraced) and returns
a result that its check validates outside the timed region. A check
returns an error string, or None when the output is correct.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

from linkgraph import fixtures as FX
from linkgraph.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_counts,
)
from linkgraph.catalog import ParquetManifestCatalog
from linkgraph.checkpoint import CheckpointManager
from linkgraph.corpus import derive_edges
from linkgraph.graph import Graph
from linkgraph.pipeline.dedup import lsh_candidate_pairs, minhash_signatures, shingles

from inputs import (
    components_ref,
    documents,
    encoded_planted_edges,
    lpa_ref,
    pagerank_ref,
    permuted,
    triangles_ref,
    uniform_edges,
)
from spans import NullTracer

SIZES = {
    "full": {
        "repo_R": 3000,
        "uniform_vertices": 200_000,
        "uniform_edges": 1_600_000,
        "uniform_K": 5,
        "corpus_R": 4000,
        "docs": 5000,
    },
    "smoke": {
        "repo_R": 300,
        "uniform_vertices": 12_500,
        "uniform_edges": 100_000,
        "uniform_K": 3,
        "corpus_R": 300,
        "docs": 200,
    },
}
FILES_PER_REPO = 2
LPA_STEPS = 5
# the checkpointed PageRank runs a fixed 5 supersteps (one durable
# write at every=5), not to convergence: the barrier cost it shares
# with plain PageRank is already measured, and 37 more barriers would
# not fit the run's time budget
CKPT_STEPS = 5
CKPT_EVERY = 5
# a few supersteps on the real graph compile the shared per-superstep
# paths; each algorithm's own first run stays in the measured pass, as
# warming every one would double the run's length
WARM_SUPERSTEPS = 3
MINHASH = {"k": 5, "num_hashes": 16, "bands": 4}
# LSH candidate pairs over inputs.documents(n): 232,607 over the whole
# sf0.1 table, the count measured when the benchmark was specified; the
# 200-document smoke slice was pinned from the engine. The document
# content does not depend on the seed, so neither may the count.
CANDIDATES = {5000: 232607, 200: 374}


@dataclass
class Op:
    name: str
    run: Callable[[Any], Any]
    check: Callable[[Any], str | None]


def _state_frame(state):
    return state.toPandas().sort_values("id").reset_index(drop=True)


def _cmp_labels(got, want: np.ndarray, what: str) -> str | None:
    ids = got["id"].to_numpy()
    if len(ids) != len(want) or not np.array_equal(ids, np.arange(len(want))):
        return f"{what}: {len(ids)} vertex rows, want ids 0..{len(want) - 1}"
    bad = int((got.iloc[:, 1].to_numpy() != want).sum())
    return f"{what}: {bad} vertices differ from the reference" if bad else None


class Workload:
    """Shared plumbing: cached references, the timed Pregel call pattern
    (call, then count the state to consume it) and per-pass clean-up.
    Subclasses define build_inputs(seed, tracer), warm_up(tracer) and
    ops()."""

    def __init__(self, spark, sizes: dict, tmp: str):
        self.spark = spark
        self.sizes = sizes
        self.tmp = tmp
        self.graph: Graph | None = None
        self.graph_counts = (0, 0)  # (vertices, edges) of the last graph built
        self._ref: dict = {}

    def ref(self, key: str, fn: Callable[[], Any]):
        """Reference results are computed once per run, on first check."""
        if key not in self._ref:
            self._ref[key] = fn()
        return self._ref[key]

    def pregel(self, tr, layer: str, fn: Callable[[], tuple]):
        with tr.span(layer) as s:
            state, info = fn()
            state.count()
        return state, info, s

    def setup_checks(self) -> dict:
        """Checks of outputs built during set-up: {operation: error or None}."""
        return {}

    def end_pass(self) -> None:
        if self.graph is not None:
            self.graph.unpersist()
            self.graph = None


# ------------------------------------------------- corpus-fed workloads


class CorpusGraph(Workload):
    """Common to the two corpus-fed workloads: the `fixtures.gen_corpus`
    fixture, the graph derived from its rows, and the check of a graph
    against the fixture's planted edges."""

    R_KEY = ""

    def build_inputs(self, seed: int, tr) -> None:
        with tr.span("fixtures.gen"):
            self.fixture = FX.gen_corpus(R=self.sizes[self.R_KEY], F=FILES_PER_REPO)
            files = permuted(self.fixture.files, seed)
        with tr.span("fixtures.to_spark"):
            self.corpus = self.spark.createDataFrame(files)
            self.exports = self.spark.createDataFrame(self.fixture.exports)

    def planted(self):
        return self.ref("planted", lambda: encoded_planted_edges(self.fixture))

    def op_graph_build(self, tr):
        with tr.span("corpus") as s:
            _, _, edges = derive_edges(self.corpus, self.exports)
            tr.probe(edges)
        with tr.span("graph", input=s):
            self.graph = Graph.prepare(edges)
        self.graph_counts = (self.graph.num_vertices, self.graph.num_edges)
        return self.graph

    def check_graph_build(self, g) -> str | None:
        src, dst, n = self.planted()
        got = g.edges.select("src", "dst").toPandas()
        want = set(zip(src.tolist(), dst.tolist()))
        have = set(zip(got["src"].tolist(), got["dst"].tolist()))
        if g.num_vertices != n or have != want:
            return (
                f"graph_build: {g.num_vertices} vertices / {len(have)} edges, "
                f"want {n} / {len(want)} (missing {len(want - have)}, "
                f"extra {len(have - want)})"
            )
        return None


class RepoIterate(CorpusGraph):
    """The graph is prepared once, in set-up, from the fixture's planted
    edges (the edges `derive_edges` recovers from the corpus, as
    `corpus_ingest` checks), and shared by every pass."""

    R_KEY = "repo_R"

    def __init__(self, *a):
        super().__init__(*a)
        self.ckpt_runs = 0
        self.ckpt: CheckpointManager | None = None

    def build_inputs(self, seed: int, tr) -> None:
        with tr.span("fixtures.gen"):
            self.fixture = FX.gen_corpus(R=self.sizes[self.R_KEY], F=FILES_PER_REPO)
            src, dst, _ = encoded_planted_edges(self.fixture)
            edges = permuted(pd.DataFrame({"src": src, "dst": dst}), seed)
        with tr.span("fixtures.to_spark"):
            self.edges = self.spark.createDataFrame(edges)

    def setup_checks(self) -> dict:
        return {"graph_build": self.check_graph_build(self.graph)}

    def end_pass(self) -> None:
        pass

    def warm_up(self, tr) -> None:
        with tr.span("graph"):
            self.graph = Graph.prepare(self.edges)
        self.graph_counts = (self.graph.num_vertices, self.graph.num_edges)
        pagerank(self.graph, tol=0.0, max_supersteps=WARM_SUPERSTEPS)[0].count()

    def _ckpt_manager(self, run_id: str) -> CheckpointManager:
        root = os.path.join(self.tmp, "ckpt", run_id)
        shutil.rmtree(root, ignore_errors=True)
        return CheckpointManager(ParquetManifestCatalog(self.spark, root), run_id, every=CKPT_EVERY)

    def ops(self) -> list[Op]:
        return [
            Op("pagerank", self.op_pagerank, self.check_pagerank),
            Op("components", self.op_components, self.check_components),
            Op("lpa", self.op_lpa, self.check_lpa),
            Op("pagerank_ckpt", self.op_pagerank_ckpt, self.check_pagerank_ckpt),
        ]

    def op_pagerank(self, tr):
        return self.pregel(tr, "pregel.pagerank", lambda: pagerank(self.graph, tol=1e-6))

    def op_pagerank_ckpt(self, tr):
        self.ckpt_runs += 1
        self.ckpt = self._ckpt_manager(f"pass{self.ckpt_runs}")
        return self.pregel(
            tr, "pregel.pagerank_ckpt",
            lambda: pagerank(
                self.graph, tol=0.0, max_supersteps=CKPT_STEPS, checkpointer=self.ckpt
            ),
        )

    def checkpoint_stats(self) -> tuple[int, int]:
        """(state snapshots written, bytes on disk) of the last
        checkpointed run; read from the catalog's files, no Spark job."""
        root = self.ckpt.catalog.root
        writes = len(self.ckpt.catalog.snapshots("state_pagerank"))
        size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)
        return writes, size

    def op_components(self, tr):
        return self.pregel(tr, "pregel.components", lambda: connected_components(self.graph))

    def op_lpa(self, tr):
        return self.pregel(
            tr, "pregel.lpa",
            lambda: label_propagation(self.graph, max_iter=LPA_STEPS, early_stop=False),
        )

    def check_pagerank(self, res, key="pagerank", tol=1e-6, max_iter=100) -> str | None:
        state, info, _ = res
        src, dst, n = self.planted()
        want, iters = self.ref(key, lambda: pagerank_ref(src, dst, n, tol=tol, max_iter=max_iter))
        got = _state_frame(state)
        if info.supersteps != iters:
            return f"{key}: {info.supersteps} supersteps, reference {iters}"
        if len(got) != n:
            return f"{key}: {len(got)} vertex rows, want {n}"
        err = float(np.abs(got["rank"].to_numpy() - want).max())
        return f"{key}: max |rank - reference| = {err:.3g} > 1e-6" if err > 1e-6 else None

    def check_pagerank_ckpt(self, res) -> str | None:
        writes, _ = self.checkpoint_stats()
        if writes < CKPT_STEPS // CKPT_EVERY:
            return f"pagerank_ckpt: {writes} state snapshots, want >= {CKPT_STEPS // CKPT_EVERY}"
        return self.check_pagerank(res, "pagerank_ckpt", tol=0.0, max_iter=CKPT_STEPS)

    def check_components(self, res) -> str | None:
        src, dst, n = self.planted()
        want = self.ref("components", lambda: components_ref(src, dst, n))
        return _cmp_labels(_state_frame(res[0]), want, "components")

    def check_lpa(self, res) -> str | None:
        src, dst, n = self.planted()
        want = self.ref("lpa", lambda: lpa_ref(src, dst, n, LPA_STEPS))
        return _cmp_labels(_state_frame(res[0]), want, "lpa")


# ------------------------------------------------------------ corpus_ingest


class CorpusIngest(CorpusGraph):
    R_KEY = "corpus_R"

    def build_inputs(self, seed: int, tr) -> None:
        super().build_inputs(seed, tr)
        with tr.span("fixtures.gen"):
            docs = documents(self.sizes["docs"], seed)
        with tr.span("fixtures.to_spark"):
            self.docs = self.spark.createDataFrame(docs)

    def warm_up(self, tr) -> None:
        """One untimed, unchecked pass on the real inputs: the first
        call of each operation pays Spark's plan compilation and the
        JVM's first compiles of its code paths."""
        for op in self.ops():
            op.run(NullTracer())
        self.end_pass()

    def ops(self) -> list[Op]:
        return [
            Op("graph_build", self.op_graph_build, self.check_graph_build),
            Op("triangles", self.op_triangles, self.check_triangles),
            Op("dedup", self.op_dedup, self.check_dedup),
        ]

    def op_triangles(self, tr):
        with tr.span("triangles"):
            return triangle_counts(self.graph, per_vertex=False)[1]

    def check_triangles(self, total) -> str | None:
        src, dst, _ = self.planted()
        want = self.ref("triangles", lambda: triangles_ref(src, dst))
        return None if total == want else f"triangles: {total}, reference {want}"

    def op_dedup(self, tr):
        with tr.span("dedup.shingles") as s1:
            sh = shingles(self.docs, k=MINHASH["k"])
            tr.probe(sh)
        with tr.span("dedup.signatures", input=s1) as s2:
            sig = minhash_signatures(sh, num_hashes=MINHASH["num_hashes"])
            tr.probe(sig)
        with tr.span("dedup.lsh", input=s2):
            return lsh_candidate_pairs(
                sig, bands=MINHASH["bands"], num_hashes=MINHASH["num_hashes"]
            ).count()

    def check_dedup(self, n) -> str | None:
        want = CANDIDATES.get(self.sizes["docs"])
        if want is None:
            return f"dedup: no pinned candidate count for {self.sizes['docs']} docs (got {n})"
        return None if n == want else f"dedup: {n} candidate pairs, pinned {want}"


# ---------------------------------------------------------- uniform_iterate


class UniformIterate(Workload):
    def build_inputs(self, seed: int, tr) -> None:
        if getattr(self, "raw", None) is not None:
            self.raw.unpersist()
        self.seed = seed
        self._ref.clear()
        with tr.span("fixtures.gen"):
            self.raw = uniform_edges(
                self.spark, self.sizes["uniform_vertices"], self.sizes["uniform_edges"], seed
            ).persist()
            self.raw.count()

    def warm_up(self, tr) -> None:
        g = self.op_graph_build(NullTracer())
        pagerank(g, tol=0.0, max_supersteps=2)[0].count()
        connected_components(g, max_supersteps=2)[0].count()
        self.end_pass()

    def ops(self) -> list[Op]:
        return [
            Op("graph_build", self.op_graph_build, self.check_graph_build),
            Op("pagerank", self.op_pagerank, self.check_pagerank),
            Op("components", self.op_components, self.check_components),
        ]

    def reference_graph(self):
        """Canonical edges (no self-loops, no repeats) with dense ids."""

        def build():
            raw = self.raw.toPandas()
            e = np.unique(raw[["src", "dst"]].to_numpy(), axis=0)
            e = e[e[:, 0] != e[:, 1]]
            ids, dense = np.unique(e, return_inverse=True)
            dense = dense.reshape(e.shape)
            return ids, dense[:, 0], dense[:, 1]

        return self.ref("graph", build)

    def op_graph_build(self, tr):
        with tr.span("graph"):
            self.graph = Graph.prepare(self.raw)
        self.graph_counts = (self.graph.num_vertices, self.graph.num_edges)
        return self.graph

    def check_graph_build(self, g) -> str | None:
        ids, src, _ = self.reference_graph()
        if g.num_vertices != len(ids) or g.num_edges != len(src):
            return (
                f"graph_build: {g.num_vertices} vertices / {g.num_edges} edges, "
                f"reference {len(ids)} / {len(src)}"
            )
        return None

    def op_pagerank(self, tr):
        k = self.sizes["uniform_K"]
        return self.pregel(
            tr, "pregel.pagerank", lambda: pagerank(self.graph, tol=0.0, max_supersteps=k)
        )

    def check_pagerank(self, res) -> str | None:
        state, info, _ = res
        k = self.sizes["uniform_K"]
        if info.supersteps != k:
            return f"pagerank: {info.supersteps} supersteps, want exactly {k}"
        ids, src, dst = self.reference_graph()
        want, _ = self.ref("pagerank", lambda: pagerank_ref(src, dst, len(ids), tol=0.0, max_iter=k))
        got = _state_frame(state)
        if not np.array_equal(got["id"].to_numpy(), ids):
            return "pagerank: vertex set differs from the reference"
        err = float(np.abs(got["rank"].to_numpy() - want).max())
        return f"pagerank: max |rank - reference| = {err:.3g} > 1e-9" if err > 1e-9 else None

    def op_components(self, tr):
        return self.pregel(tr, "pregel.components", lambda: connected_components(self.graph))

    def check_components(self, res) -> str | None:
        ids, src, dst = self.reference_graph()
        got = _state_frame(res[0])
        if not np.array_equal(got["id"].to_numpy(), ids):
            return "components: vertex set differs from the reference"
        lab = np.searchsorted(ids, got["comp"].to_numpy())
        if int((lab[src] != lab[dst]).sum()):
            return "components: an edge joins two different labels"
        want = self.ref("components", lambda: components_ref(src, dst, len(ids)))
        bad = int((lab != want).sum())
        return f"components: {bad} labels are not their set's minimum id" if bad else None


WORKLOADS = {
    "repo_iterate": RepoIterate,
    "uniform_iterate": UniformIterate,
    "corpus_ingest": CorpusIngest,
}
