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
  CheckpointManager replaces the frame, the aggregates and, for a
  mutated run, the edge table; a run recorded converged returns
  before any Spark job.
- **frame helpers**: `_make_frame` builds the frame (after a barrier,
  a mutation, or at superstep 0 with every vertex in the frontier);
  `_split_frame` gives the (state, frontier) pair `spec.step` reads.
- **`build_links`**: the checkpointed, pre-partitioned, pre-sorted
  scatter relation (merge-joined), rebuilt after a mutation and
  released when the loop ends.
- **step**: `spec.step(links, state, frontier, aggs)` under
  `fx.barrier` — scatter → unioned carried-state markers → one
  combine+apply shuffle → lazy checkpoint + global aggregators, one
  action.
- **`resolve_mutations` / `apply_mutations`**: the barrier's (add,
  remove) edge sets, and the edge table after them (see below).
- **checkpoint (B9)**: every k supersteps and at finish the frame is
  written, so resume restores the EXACT frontier — required for
  non-idempotent programs (k-core's decrement counting), where
  re-scattering already-delivered messages would corrupt state. A
  mutated run also writes its changed edge table (paper §4.2: the
  checkpoint must capture the graph once it diverged from the
  input); resume re-fires mutation callbacks only for supersteps
  after the snapshot (callbacks must be deterministic in the
  superstep index — the paper's requirement on compute()). The
  durable read-back replaces the frame.

Built-in machinery the spec gets for free:

- **Global aggregators (paper §3.3)**: `spec.metrics` maps any name to
  an aggregate Column evaluated over the post-superstep state in the
  SAME job as the lineage-materializing barrier (no extra action).
  Values are recorded per superstep (`SuperstepLog.aggregates`) and
  handed back to the next `step()` call — the paper's "visible to all
  vertices in superstep S+1".
- **Vote-to-halt / frontier (B6)**: `spec.frontier_filter` names the
  changed column; only changed vertices scatter next superstep.
- **Topology mutation (B14, paper §3.4)**: two request sources, both
  resolved at the superstep BARRIER (BSP requires every superstep to
  see a consistent graph) under the paper's pinned partial ordering —
  removals apply first, then additions, so an edge both removed and
  added in one barrier ends up present; conflicting adds of one
  (src,dst) resolve to the lexicographic-min extra columns. (a) A
  driver-side `mutations(superstep)` callback returning (add_edges,
  remove_edges) DataFrames — scheduled growth, external feeds. (b)
  VERTEX-INITIATED: `spec.request_mutations(new_state, aggs,
  superstep)` derives ('add'|'remove', src, dst) request rows from
  the program's own post-superstep state — the paper's compute()-
  issued mutations (e.g. its clustering example, where vertices
  decide to collapse edges), fully distributed, never collected.
  After application the scatter relation is rebuilt, new vertices get
  `spec.init_state` rows, and the frontier is conservatively reset to
  the full vertex set. Edge removal never
  deletes a vertex — existing state rows are retained even when a
  vertex loses all its edges (the paper separates edge and vertex
  mutation; correct for the confluent min/argmax programs; monotone
  state already propagated over a removed edge is NOT retracted —
  the paper's compute() semantics, where handling retraction is the
  program's job). The callback is ALSO invoked at the barrier where
  the run converges: a mutation returned there reactivates the run
  (convergence does not silently skip a scheduled mutation); if the
  run ends without the callback ever producing a mutation, a warning
  is emitted.

The one Spark-specific hazard of iterative dataflow is unbounded plan
growth: superstep S's DataFrame references S-1's, so after ~30
supersteps analysis/optimization time dominates. The barrier cuts the
plan every superstep via localCheckpoint — the materialized blocks
also serve as the per-superstep state cache.
"""

from __future__ import annotations

import time
import warnings
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from pyspark.errors import AnalysisException
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


_observe_fallback_warned = False


def _warn_observe_fallback(algo: str, names: list[str], err) -> None:
    global _observe_fallback_warned
    if _observe_fallback_warned:
        return
    _observe_fallback_warned = True
    warnings.warn(
        f"{algo}: metrics {names} are not valid observed metrics "
        f"({err.getCondition()}); the barrier falls back to agg().first(), "
        "one extra stage per superstep (warned once per process)",
        stacklevel=3,
    )


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
        step (durable checkpoints, mutations) is not part of the next."""
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
        reject some aggregate shapes (DISTINCT) at analysis, before any
        job runs; only that rejection falls back to agg().first(), with
        a warning once per process. With no metrics the barrier is a
        bare noop write and returns {}.
        """
        df = df.localCheckpoint(eager=False)
        metrics = metrics or {}
        cols = [c.alias(k) for k, c in metrics.items()]
        obs = Observation()
        try:
            observed = df.observe(obs, *cols) if cols else df
        except AnalysisException as e:
            if not (e.getCondition() or "").startswith("INVALID_OBSERVED_METRICS"):
                raise
            _warn_observe_fallback(self.info.algorithm, list(metrics), e)
            values = df.agg(*cols).first().asDict()
        else:
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
def fixpoint(graph, algo: str, partitions: int | None = None):
    """`with fixpoint(graph, algo) as fx:` runs a fixpoint loop under the
    fixed-plan settings (tuning.superstep_conf: AQE off, shuffle
    partitions = `fx.p`, derived from the graph's size unless given),
    restored on exit. The loop's barriers and step log live on `fx`."""
    spark = graph.edges.sparkSession
    p = partitions or loop_partitions(graph)
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
    # False = the program is not safe under barrier-time topology
    # mutation: applying one resets the frontier to the FULL state,
    # which re-delivers messages a non-idempotent program (k-core's
    # decrement counting) already applied, or re-bases state a
    # non-confluent program cannot re-settle. pregel_run raises on the
    # unsafe combination instead of corrupting silently.
    mutation_safe: bool = True
    # Vertex-initiated topology mutation (paper §3.4 FULL semantics):
    # the program itself — not a driver callback — derives mutation
    # REQUEST rows from the post-superstep state:
    #   request_mutations(new_state, aggs, superstep)
    #     -> DataFrame(op string in ('add','remove'), src long, dst long,
    #                  *extra edge columns for adds) | None
    # Requests stay distributed end-to-end (never collected) and are
    # applied together with the driver callback's at the same barrier
    # (resolve_mutations / apply_mutations).
    # Cost note: deciding "any requests this barrier?" needs one extra
    # bounded action (a 2-row groupBy(op) count). A spec can eliminate
    # it on quiet barriers by exposing a `mutation_requests` metric
    # (count of would-be requests over the new state): when that key
    # is present and 0, the engine skips evaluating requests entirely.
    request_mutations: (
        Callable[[DataFrame, dict, int], DataFrame | None] | None
    ) = None


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


def resolve_mutations(
    spec: PregelSpec,
    mutations: Callable | None,
    state: DataFrame,
    aggs: dict,
    superstep: int,
    edge_cols: list[str],
) -> tuple[DataFrame | None, DataFrame | None]:
    """The barrier's (add, remove) edge sets from both request sources:
    the driver callback `mutations(superstep)` and the spec's
    vertex-initiated `request_mutations(state, aggs, superstep)`. Adds
    are projected to `edge_cols`, removes to (src, dst); a side nobody
    asked for is None."""
    adds: list = []
    removes: list = []
    if mutations is not None:
        add, remove = mutations(superstep) or (None, None)
        adds.append(add)
        removes.append(remove)
    # gate: when the spec exposes a `mutation_requests` metric, a zero
    # value means no vertex asked — skip the request evaluation (and its
    # action) entirely on quiet barriers
    gated_off = "mutation_requests" in spec.metrics and not (
        aggs.get("mutation_requests") or 0
    )
    if spec.request_mutations is not None and not gated_off:
        req = spec.request_mutations(state, aggs, superstep)
        if req is not None:
            op_counts = {
                r["op"]: r["n"]
                for r in req.groupBy("op").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            unknown = set(op_counts) - {"add", "remove"}
            if unknown:
                raise ValueError(
                    f"pregel_run({spec.algo}): request_mutations "
                    f"emitted unknown op(s) {sorted(unknown)} — "
                    "only 'add'/'remove' are defined (§3.4)"
                )
            if op_counts.get("add"):
                adds.append(req.filter(F.col("op") == "add"))
            if op_counts.get("remove"):
                removes.append(req.filter(F.col("op") == "remove"))

    def union(parts: list, cols: list[str]) -> DataFrame | None:
        parts = [df.select(*cols) for df in parts if df is not None]
        return reduce(DataFrame.unionByName, parts) if parts else None

    return union(adds, edge_cols), union(removes, ["src", "dst"])


def apply_mutations(
    edges: DataFrame, add: DataFrame | None, remove: DataFrame | None, p: int
) -> DataFrame:
    """`edges` after one barrier's mutations, under the paper's §3.4
    partial ordering: removals FIRST, then additions (an edge both
    removed and added ends up present). Every edge column (weights
    etc.) is kept: re-adding an existing (src,dst) replaces its row,
    and duplicates within `add` resolve to the lexicographic-min extra
    columns — deterministic, unlike dropDuplicates' arbitrary survivor.
    Self-loops are dropped; the result is hash-partitioned on src into
    `p` partitions and checkpointed."""
    if remove is not None:
        edges = edges.join(remove, ["src", "dst"], "left_anti")
    if add is not None:
        extras = [c for c in edges.columns if c not in ("src", "dst")]
        if extras:
            add = (
                add.groupBy("src", "dst")
                .agg(F.min(F.struct(*extras)).alias("_e"))
                .select("src", "dst", "_e.*")
            )
        else:
            add = add.distinct()
        edges = edges.join(
            add.select("src", "dst"), ["src", "dst"], "left_anti"
        ).unionByName(add)
    # (src,dst) is already unique — conflicts were resolved above
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .repartition(p, "src")
        .localCheckpoint()
    )


def pregel_run(
    graph,
    spec: PregelSpec,
    *,
    max_supersteps: int,
    checkpointer=None,
    partitions: int | None = None,
    mutations: Callable[[int], tuple[DataFrame | None, DataFrame | None] | None]
    | None = None,
) -> tuple[DataFrame, RunInfo]:
    """Run `spec` to convergence (or max_supersteps) over `graph`.

    graph: linkgraph.graph.Graph (prepared: canonical edges persisted).
    Returns (state(id, *state_cols), RunInfo).

    Execution tuning (r6, tuning.py): the loop runs inside `fixpoint`,
    so the partition count defaults to a scale-derived value (~1M edge
    messages per partition, floored at half the cores) instead of the
    session constant, and AQE is off — the recurring superstep plan is
    fixed, so adaptive re-planning is pure per-step driver overhead
    (measured 2.1x median-step on a 32-core host). Both settings
    restore on return.
    """
    from linkgraph.graph import vertices_of

    if not spec.mutation_safe and (
        mutations is not None or spec.request_mutations is not None
    ):
        raise ValueError(
            f"pregel_run({spec.algo}): this spec is marked "
            "mutation_safe=False — a barrier-time topology mutation (a "
            "mutations= callback or the spec's request_mutations) resets "
            "the frontier to the full state, which would re-deliver "
            "non-idempotent messages or re-base non-confluent state"
        )
    with fixpoint(graph, spec.algo, partitions) as fx:
        info, p = fx.info, fx.p
        edges = graph.edges
        frame = None
        aggs: dict = {}
        mutated = False  # a mutation has been applied (possibly pre-resume)
        edges_dirty = False  # edges changed since the last edge snapshot

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
            if meta.get("has_edges"):
                # a mutation happened before the snapshot: its edge table
                # IS the graph to resume on (callbacks for supersteps >
                # the snapshot's re-fire; earlier ones are baked in)
                edges = checkpointer.read_edges(spec.algo, info.supersteps)
                mutated = True

        links = build_links(spec, edges, p)
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

            # Mutations resolve at EVERY barrier, including the one where
            # the run converges (a mutation scheduled for superstep K must
            # not be skipped because the algorithm settled at K), and
            # BEFORE the checkpoint, so a snapshot at this barrier holds
            # the post-mutation graph and state.
            state = _split_frame(spec, frame)[0]
            add, remove = resolve_mutations(
                spec, mutations, state, aggs, info.supersteps, edges.columns
            )
            mutation = add is not None or remove is not None
            if mutation and info.supersteps >= max_supersteps:
                # terminal barrier: no superstep remains to observe the
                # mutated graph — applying it would return state labeled
                # converged=False for a graph it never ran on
                warnings.warn(
                    f"pregel_run({spec.algo}): mutation returned at the "
                    f"max_supersteps barrier ({info.supersteps}) cannot be "
                    "applied — no superstep remains; raise "
                    "max_supersteps",
                    stacklevel=2,
                )
            elif mutation:
                edges = apply_mutations(edges, add, remove, p)
                release(links)
                links = build_links(spec, edges, p)
                # NEW vertices get init rows; existing state is kept even
                # if a vertex became edge-isolated (edge removal never
                # removes a vertex — paper §3.4 separates the two); the
                # whole state is reactivated to re-settle the new graph
                new_ids = vertices_of(edges).repartition(p, "id").join(
                    state, "id", "left_anti"
                )
                state = state.unionByName(spec.init_state(new_ids)).localCheckpoint()
                frame = _make_frame(spec, state, "true")
                converged = False
                mutated = edges_dirty = True

            if checkpointer is not None:
                snapshot = checkpointer.maybe_checkpoint(
                    spec.algo,
                    info.supersteps,
                    frame,
                    delta=aggs.get("delta"),
                    active=aggs.get("active"),
                    aggregates=dict(aggs),
                    # the mutated edge table rides the snapshot (paper
                    # §4.2: the checkpoint must capture the graph once it
                    # diverged from the input); skipped while unchanged —
                    # resume reads the latest edge snapshot <= its superstep
                    edges=edges if edges_dirty else None,
                    mutated=mutated,
                )
                if snapshot is not None:
                    # the durable read-back replaces the in-memory frame
                    frame = snapshot
                    edges_dirty = False

        info.converged = converged
        if mutations is not None and not mutated:
            warnings.warn(
                f"pregel_run({spec.algo}): the mutations callback never "
                f"returned a mutation before the run ended at superstep "
                f"{info.supersteps} (converged={converged}) — a mutation "
                "scheduled for a later superstep was not applied",
                stacklevel=2,
            )
        release(links)
        if checkpointer is not None:
            # the final snapshot carries the frontier too: resuming an
            # unconverged max_supersteps run must not re-widen it
            checkpointer.finish(
                spec.algo, info.supersteps, frame, converged=converged,
                aggregates=dict(aggs),
                edges=edges if edges_dirty else None, mutated=mutated,
            )
        return _split_frame(spec, frame)[0], info
