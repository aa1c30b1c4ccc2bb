"""Pregel core machinery shared by all algorithm drivers (SURVEY §2.B).

The BSP mapping (SURVEY §1.1): one Spark *action* per superstep is the
barrier; the shuffle produced by `groupBy(dst)` is message delivery;
Catalyst's partial+final HashAggregate is the combiner; a driver-side
scalar collected by the metric barrier (observed metrics folded into
accumulators during the state-materializing action) is the global
aggregator.

`fixpoint` is the ONE barrier mechanism of the engine. `with
fixpoint(graph, algo) as fx:` runs a loop under the fixed-plan
settings (tuning.superstep_conf at `fx.p` partitions); `fx.barrier(df,
metrics)` lazily checkpoints the step's state and evaluates the global
aggregators in that same single action; `fx.record(values)` logs the
step (per-step wall, `delta`/`active`) into `fx.info`. Every loop of
the engine runs on it: `pregel_run`, and the fixpoints that are not
vertex programs — scc (trim / forward-color / backward-reach),
landmark BFS (centrality, diameter), Brandes betweenness, k-truss
peeling, feature propagation and triangle counting.

`pregel_run` is the generic vertex-program driver (paper §2/§3.1): one
implementation of the fused-superstep loop, parameterized by a
`PregelSpec`. Algorithm modules (pagerank/components/sssp/lpa) are thin
specs over it; a new algorithm is ~20 lines, not a copy of the loop.
The loop carries ONE frame — the state plus, when the spec has a
frontier filter, a boolean frontier marker column — through these
parts:

- **resume (B10)**: the latest snapshot of an injected
  CheckpointManager replaces the frame and the aggregates; a run
  recorded converged returns before any Spark job.
- **frame helpers**: `_make_frame` builds the frame (after a barrier,
  or at superstep 0 with every vertex in the frontier); `_split_frame`
  gives the (state, frontier) pair `spec.step` reads.
- **`build_links`**: the checkpointed, pre-partitioned, pre-sorted
  scatter relation (merge-joined), built once and released when the
  loop ends.
- **step**: `spec.step(links, state, frontier, aggs)` under
  `fx.barrier` — scatter → unioned carried-state markers → one
  combine+apply shuffle → lazy checkpoint + global aggregators, one
  action.
- **checkpoint (B9)**: every k supersteps and at finish the frame is
  written, so resume restores the EXACT frontier — required for
  non-idempotent programs (k-core's decrement counting), where
  re-scattering already-delivered messages would corrupt state. The
  durable read-back replaces the frame.

Built-in machinery the spec gets for free:

- **Global aggregators (paper §3.3)**: `spec.metrics` maps any name to
  an aggregate Column evaluated over the post-superstep state in the
  SAME job as the lineage-materializing barrier (no extra action). They
  ride as observed metrics, so a DISTINCT aggregate is rejected at
  analysis, before the first superstep runs.
  Values are recorded per superstep (`SuperstepLog.aggregates`) and
  handed back to the next `step()` call — the paper's "visible to all
  vertices in superstep S+1".
- **Vote-to-halt / frontier (B6)**: `spec.frontier_filter` names the
  changed column; only changed vertices scatter next superstep.

The graph is fixed for the whole run: a caller that changes the edge
set rebuilds it with `Graph.prepare` and starts a new run.

The one Spark-specific hazard of iterative dataflow is unbounded plan
growth: superstep S's DataFrame references S-1's, so after ~30
supersteps analysis/optimization time dominates. The barrier cuts the
plan every superstep via localCheckpoint — the materialized blocks
also serve as the per-superstep state cache.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from linkgraph.tuning import loop_partitions, superstep_conf


@dataclass
class SuperstepLog:
    """Per-superstep driver-side metrics (B13's driver half)."""

    superstep: int
    delta: float | None
    active: int | None
    wall_s: float
    aggregates: dict | None = None  # all spec.metrics values (B7, §3.3)


@dataclass
class RunInfo:
    """Result metadata returned by every algorithm driver."""

    algorithm: str
    supersteps: int = 0
    converged: bool = False
    final_delta: float | None = None
    log: list[SuperstepLog] = field(default_factory=list)
    wall_s: float = 0.0


class Fixpoint:
    """One fixpoint loop's superstep barrier, partition count and step log.

    Built by `fixpoint(...)`; `p` is the loop's shuffle partition count
    and `info` the RunInfo the loop returns. Each step ends in ONE
    `barrier` and is logged by `record`.
    """

    def __init__(self, algo: str, p: int):
        self.p = p
        self.info = RunInfo(algo)
        self._t0 = self._t_end = time.monotonic()

    def start_step(self) -> None:
        """Restart the step clock: work done since the last recorded
        step (durable checkpoints) is not part of the next."""
        self._t0 = time.monotonic()

    def barrier(
        self, df: DataFrame, metrics: dict | None = None
    ) -> tuple[DataFrame, dict]:
        """Materialize `df` as a local checkpoint and evaluate the global
        aggregators `metrics` (name -> aggregate Column, paper §3.3) in
        that same single Spark action. Returns (checkpointed df, values).

        The metrics ride a noop write as OBSERVED metrics (accumulator
        side channel): map+combine, then one reduce stage that builds
        the checkpoint and folds the metric partials — 2 stages, against
        3 for agg().first() (measured ~0.30 s vs ~0.47 s median superstep
        on the 463k-edge bench graph, 32-core host). Observed metrics
        reject some aggregate shapes (DISTINCT) with an AnalysisException
        (INVALID_OBSERVED_METRICS) before any job runs; the engine's
        aggregators are sums, maxes and counts, which they accept. With
        no metrics the barrier is a bare noop write and returns {}.
        """
        df = df.localCheckpoint(eager=False)
        cols = [c.alias(k) for k, c in (metrics or {}).items()]
        obs = Observation()
        observed = df.observe(obs, *cols) if cols else df
        observed.write.format("noop").mode("overwrite").save()
        values = dict(obs.get) if cols else {}
        self._t_end = time.monotonic()
        return df, values

    def record(self, values: dict) -> None:
        """Log one superstep: `delta`/`active` come from the keys of
        those names, all of `values` becomes its aggregates. Its wall
        time runs from the step clock's start to the return of the last
        barrier; the clock then restarts at that return."""
        info = self.info
        wall = self._t_end - self._t0
        self._t0 = self._t_end
        info.supersteps += 1
        delta = values.get("delta")
        info.log.append(
            SuperstepLog(
                info.supersteps, delta, values.get("active"), wall, dict(values)
            )
        )
        info.wall_s += wall
        if delta is not None:
            info.final_delta = delta


@contextmanager
def fixpoint(graph, algo: str):
    """`with fixpoint(graph, algo) as fx:` runs a fixpoint loop under the
    fixed-plan settings (tuning.superstep_conf: AQE off, shuffle
    partitions = `fx.p`, derived from the graph's size by
    tuning.loop_partitions), restored on exit. The loop's barriers and
    step log live on `fx`."""
    spark = graph.edges.sparkSession
    p = loop_partitions(graph)
    with superstep_conf(spark, p):
        yield Fixpoint(algo, p)


def log_append(parts: list, df: DataFrame, n: int) -> None:
    """Append an eagerly-checkpointed increment to an accumulated
    relation kept as a list of (part, rows) with LSM-style compaction:
    whenever the previous part is not at least twice the size of the
    new one, the two merge into one checkpointed part. A row is
    therefore rewritten O(log #appends) times (vs every append when
    the full relation is re-checkpointed per hop — VERDICT r5 #2's
    quadratic write volume) AND the live union keeps O(log #appends)
    branches (a plain per-hop parts list makes every later anti-join
    scan one task-wave per hop — measured 2x slower than even the
    quadratic form on a 64-hop chain on a 32-core host, because task
    count, not bytes, dominates at small per-hop increments)."""
    parts.append((df, n))
    while len(parts) >= 2 and parts[-2][1] <= 2 * parts[-1][1]:
        a_df, a_n = parts.pop()
        b_df, b_n = parts.pop()
        parts.append(
            (b_df.unionByName(a_df).localCheckpoint(eager=True), a_n + b_n)
        )


def log_union(parts: list) -> DataFrame:
    """The whole relation accumulated by `log_append`."""
    return reduce(lambda a, b: a.unionByName(b), [p for p, _ in parts])


@dataclass
class PregelSpec:
    """A vertex program, expressed as DataFrame transformations.

    step(links, state, frontier, aggs) builds ONE LAZY superstep plan:
    it must return (id, *state_cols, ...) where extra columns (e.g. a
    `changed` flag or carried-old helper) feed `metrics` /
    `frontier_filter` and are projected away afterwards. The canonical
    shape is the fused superstep: scatter-join on the pre-sorted links
    relation, union carried-state marker rows, ONE
    groupBy(id).agg(...) that is simultaneously the combiner (map-side
    partial) and the apply.
    """

    algo: str
    state_cols: tuple[str, ...]
    init_state: Callable[[DataFrame], DataFrame]  # vertices(id) -> state
    prepare_links: Callable[[DataFrame], DataFrame]  # edges -> scatter relation
    step: Callable[[DataFrame, DataFrame, DataFrame, dict], DataFrame]
    metrics: dict  # name -> aggregate Column over the new state
    halt: Callable[[dict], bool]  # metrics values -> converged?
    frontier_filter: str | None = "changed"  # None = every vertex scatters
    links_key: str = "src"  # partition/sort column of the scatter relation
    # ("pk" for the CSR layout, whose relation is one row per partition)
    # False = step() cogroups the scatter relation instead of joining it
    # (the CSR layout): it takes no merge hint, which Spark would log as
    # unused on every superstep
    links_joined: bool = True


def merge_relation(df: DataFrame, key: str, p: int, hint: bool = True) -> DataFrame:
    """`df` as a static relation a loop joins on `key` every superstep:
    hash-partitioned on `key` into `p` partitions, sorted within
    partitions and materialized as a local checkpoint, which keeps that
    partitioning and order and cuts the lineage, so no barrier job
    re-schedules (skips) the stages that built it. Its `merge` join
    hint makes every join against it a sort-merge join: the planner
    never broadcasts it (a broadcast is a job of its own, re-run every
    superstep), it never re-sorts, and a side already hash-partitioned
    on the key at `p` (the barrier's checkpointed state) only sorts.
    `hint=False` for a relation that is cogrouped, not joined. The
    owner calls `release` when its loop is done."""
    rel = df.repartition(p, key).sortWithinPartitions(key).localCheckpoint()
    return rel.hint("merge") if hint else rel


def release(rel: DataFrame) -> None:
    """Drop the checkpoint blocks of a `merge_relation` now; it cannot
    be read afterwards. Spark's ContextCleaner would drop them only once
    a JVM GC finds the relation unreachable, so until then a large
    relation stays on the heap (about +390 MB of live heap after
    linkbench's 1.6M-edge uniform_iterate run on 4 cores)."""
    rel._jdf.queryExecution().analyzed().collectLeaves().head().rdd().unpersist(False)


def build_links(spec: PregelSpec, edges: DataFrame, p: int) -> DataFrame:
    """The scatter relation of `spec` over `edges`: `merge_relation` on
    `spec.links_key`. A superstep is then ONE Spark job of two stages —
    scatter + partial combine, then final combine + barrier write. When
    prepare_links already emits that layout (it ends in
    graph.symmetrize, called under the loop's superstep_conf at the same
    p), Spark's EnsureRequirements drops the repartition as redundant,
    so the relation costs the one symmetrize exchange."""
    return merge_relation(
        spec.prepare_links(edges), spec.links_key, p, hint=spec.links_joined
    )


def _make_frame(
    spec: PregelSpec, state: DataFrame, in_frontier: str | None
) -> DataFrame:
    """The carried frame (id, *state_cols[, _frontier]): the state, plus
    the frontier as a boolean marker column when the spec has a
    frontier filter. `in_frontier` is a SQL expression over `state`
    (the spec's frontier filter after a barrier; "true" when every
    vertex must scatter). The frame is also the checkpoint snapshot,
    so a resumed run restores the EXACT frontier — required for
    non-idempotent programs (k-core's decrement counting), where
    re-scattering already-delivered messages would corrupt state."""
    cols = ["id", *spec.state_cols]
    if spec.frontier_filter is None:
        return state.select(*cols)
    return state.select(*cols, F.expr(in_frontier).cast("boolean").alias("_frontier"))


def _split_frame(spec: PregelSpec, frame: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(state, frontier) of a frame. A frame without the marker (a
    spec with no frontier filter) scatters every vertex."""
    if "_frontier" not in frame.columns:
        return frame, frame
    return (
        frame.select("id", *spec.state_cols),
        frame.filter("_frontier").select("id", *spec.state_cols),
    )


def pregel_run(
    graph,
    spec: PregelSpec,
    *,
    max_supersteps: int,
    checkpointer=None,
) -> tuple[DataFrame, RunInfo]:
    """Run `spec` to convergence (or max_supersteps) over `graph`.

    graph: linkgraph.graph.Graph (prepared: canonical edges persisted).
    Returns (state(id, *state_cols), RunInfo).

    Execution tuning (r6, tuning.py): the loop runs inside `fixpoint`,
    so the partition count is a scale-derived value (~1M edge messages
    per partition, floored at half the cores) instead of the session
    constant, and AQE is off — the recurring superstep plan is fixed,
    so adaptive re-planning is pure per-step driver overhead (measured
    2.1x median-step on a 32-core host). Both settings restore on
    return.
    """
    with fixpoint(graph, spec.algo) as fx:
        info, p = fx.info, fx.p
        frame = None
        aggs: dict = {}

        # resume BEFORE the |E| scatter-relation build: a run already
        # recorded converged returns without paying the prep job
        resumed = None
        if checkpointer is not None:
            resumed = checkpointer.try_resume(spec.algo)
        if resumed is not None:
            info.supersteps, snapshot, meta = resumed
            if meta.get("converged"):
                info.converged = True
                return _split_frame(spec, snapshot)[0], info
            frame = snapshot.repartition(p, "id").localCheckpoint()
            # superstep S's aggregates are the input of S+1 (paper §3.3)
            aggs = meta.get("aggregates") or {}

        links = build_links(spec, graph.edges, p)
        if frame is None:
            # superstep 0: every vertex scatters (confluent specs tolerate
            # a too-large frontier at the cost of one superstep)
            init = spec.init_state(graph.vertices).repartition(p, "id")
            frame = _make_frame(spec, init.localCheckpoint(), "true")

        converged = False
        while info.supersteps < max_supersteps and not converged:
            fx.start_step()
            state, frontier = _split_frame(spec, frame)
            # paper §2: compute() can query the current superstep index,
            # under the reserved "_superstep" aggs key (0-based and
            # resume-exact, so round-seeded programs like Luby MIS are
            # deterministic across checkpointing)
            aggs = {**aggs, "_superstep": info.supersteps}
            new_state, aggs = fx.barrier(
                spec.step(links, state, frontier, aggs), spec.metrics
            )
            frame = _make_frame(spec, new_state, spec.frontier_filter)
            fx.record(aggs)
            converged = bool(spec.halt(aggs))

            if checkpointer is not None:
                snapshot = checkpointer.maybe_checkpoint(
                    spec.algo,
                    info.supersteps,
                    frame,
                    delta=aggs.get("delta"),
                    active=aggs.get("active"),
                    aggregates=dict(aggs),
                )
                if snapshot is not None:
                    # the durable read-back replaces the in-memory frame
                    frame = snapshot

        info.converged = converged
        release(links)
        if checkpointer is not None:
            # the final snapshot carries the frontier too: resuming an
            # unconverged max_supersteps run must not re-widen it
            checkpointer.finish(
                spec.algo, info.supersteps, frame, converged=converged,
                aggregates=dict(aggs),
            )
        return _split_frame(spec, frame)[0], info
