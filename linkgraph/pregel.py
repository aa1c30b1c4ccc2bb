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
implementation of the fused-superstep loop — scatter → unioned
carried-state markers → one combine+apply shuffle → metric barrier →
frontier update → checkpoint — parameterized by a `PregelSpec`.
Algorithm modules (pagerank/components/sssp/lpa) are thin specs over
it; a new algorithm is ~20 lines, not a copy of the loop.

Built-in machinery the spec gets for free:

- **Global aggregators (paper §3.3)**: `spec.metrics` maps any name to
  an aggregate Column evaluated over the post-superstep state in the
  SAME job as the lineage-materializing barrier (no extra action).
  Values are recorded per superstep (`SuperstepLog.aggregates`) and
  handed back to the next `step()` call — the paper's "visible to all
  vertices in superstep S+1".
- **Vote-to-halt / frontier (B6)**: `spec.frontier_filter` names the
  changed column; only changed vertices scatter next superstep.
- **Checkpoint/resume (B9/B10)**: durable snapshots every k supersteps
  via an injected CheckpointManager; resume short-circuits if the run
  already converged (meta carries the flag). Snapshots carry a
  `_frontier` marker column so resume restores the EXACT frontier —
  required for non-idempotent programs (k-core's decrement counting),
  where re-scattering already-delivered messages would corrupt state.
  A topology-mutating run additionally snapshots its current edge
  table (paper §4.2: the checkpoint must capture the graph once it
  diverged from the input); resume restores the mutated graph and
  re-fires mutation callbacks only for supersteps after the snapshot
  (callbacks must be deterministic in the superstep index — the same
  requirement the paper places on compute()).
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

from linkgraph.tuning import scale_partitions, superstep_conf


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
    p = partitions or scale_partitions(
        spark, max(graph.num_edges, graph.num_vertices)
    )
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
    # True = prepare_links already returns its relation hash-partitioned
    # on links_key at the CURRENT spark.sql.shuffle.partitions (e.g. it
    # ends in graph.symmetrize, whose dedup repartitions on src) — the
    # driver then skips its own repartition, saving one full |links|
    # exchange per run (r6, guide §2.4). prepare_links is always called
    # under the loop's superstep_conf, so "current" == the loop's p.
    links_prepartitioned: bool = False
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
    # Requests stay distributed end-to-end (a DataFrame transformation
    # of the state — never collected) and are resolved at the SAME
    # barrier under the paper's pinned partial ordering: removals
    # apply FIRST, then additions (an edge both removed and added in
    # one barrier ends up PRESENT); conflicting adds of the same
    # (src,dst) resolve to the lexicographic-min extra columns — the
    # same deterministic conflict handler as driver-callback adds.
    # Cost note: deciding "any requests this barrier?" needs one extra
    # bounded action (a 2-row groupBy(op) count). A spec can eliminate
    # it on quiet barriers by exposing a `mutation_requests` metric
    # (count of would-be requests over the new state): when that key
    # is present and 0, the engine skips evaluating requests entirely.
    request_mutations: (
        Callable[[DataFrame, dict, int], DataFrame | None] | None
    ) = None


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

    if mutations is not None and not spec.mutation_safe:
        raise ValueError(
            f"pregel_run({spec.algo}): this spec is marked "
            "mutation_safe=False — barrier-time topology mutation would "
            "re-deliver non-idempotent messages or re-base non-confluent "
            "state; run it without mutations="
        )
    if spec.request_mutations is not None and not spec.mutation_safe:
        raise ValueError(
            f"pregel_run({spec.algo}): the spec declares "
            "request_mutations but is marked mutation_safe=False — a "
            "barrier-time mutation resets the frontier to the full "
            "state, which this program cannot tolerate"
        )
    with fixpoint(graph, spec.algo, partitions) as fx:
        edges = graph.edges
        p = fx.p

        def build_links(e: DataFrame) -> DataFrame:
            # pre-sorted persisted scatter side: the per-superstep sort-merge
            # join never re-sorts the |E| relation, only the |V| state side
            l_ = spec.prepare_links(e)
            if not spec.links_prepartitioned:
                l_ = l_.repartition(p, spec.links_key)
            l_ = l_.sortWithinPartitions(spec.links_key).persist()
            l_.count()
            return l_

        info = fx.info

        # resume check BEFORE the |E| scatter-relation build: a run already
        # recorded converged must return without paying the prep job
        start_step = 0
        state = None
        frontier = None
        resumed_aggs: dict = {}
        mutated = False  # a mutation has been applied (possibly pre-resume)
        edges_dirty = False  # edges changed since the last edge snapshot
        if checkpointer is not None:
            resumed = checkpointer.try_resume(spec.algo)
            if resumed is not None:
                start_step, state, meta = resumed
                if meta.get("converged"):
                    info.converged = True
                    info.supersteps = start_step
                    return state.select("id", *spec.state_cols), info
                state = state.repartition(p, "id").localCheckpoint()
                ckpt_frame = state  # pre-projection: retains _frontier for finish
                # restore the frontier exactly as the uninterrupted run had
                # it (B10): snapshots carry a `_frontier` marker column when
                # the spec has a frontier filter. Falling back to the full
                # state is only safe for CONFLUENT specs (min/argmax); a
                # non-idempotent program like k-core's decrement counting
                # would re-scatter messages already delivered before the
                # checkpoint, corrupting the result.
                if "_frontier" in state.columns:
                    frontier = state.filter("_frontier").select(
                        "id", *spec.state_cols
                    )
                    state = state.select("id", *spec.state_cols)
                # restore the checkpointed aggregator values (paper §3.3):
                # the first post-resume step() must see superstep S's
                # aggregates exactly as an uninterrupted run would
                resumed_aggs = meta.get("aggregates") or {}
                if meta.get("has_edges"):
                    # a topology mutation happened before the checkpoint:
                    # the snapshot's edge table IS the graph to resume on
                    # (callbacks for supersteps > start_step re-fire; ones
                    # already executed are baked into this edge snapshot)
                    edges = checkpointer.read_edges(spec.algo, start_step)
                    mutated = True

        links = build_links(edges)
        if state is None:
            state = (
                spec.init_state(graph.vertices).repartition(p, "id").localCheckpoint()
            )
        # superstep 0: every vertex is "changed" (confluent specs tolerate
        # a too-large frontier at the cost of one superstep); resume uses
        # the restored frontier when the snapshot carries one
        if frontier is None:
            frontier = state
            ckpt_frame = state

        aggs: dict = resumed_aggs
        step_i = info.supersteps = start_step
        converged = False
        any_mutation = mutated  # an edge-snapshot resume counts as mutated
        while step_i < max_supersteps and not converged:
            fx.start_step()
            # paper §2: compute() can query the current superstep index.
            # Exposed under the reserved "_superstep" aggs key (0-based,
            # resume-exact: a resumed run passes start_step, identical to
            # what the uninterrupted run's step S would have seen) so
            # round-seeded programs (e.g. Luby MIS priorities) are
            # deterministic across checkpointing.
            new_state, aggs = fx.barrier(
                spec.step(links, state, frontier, {**aggs, "_superstep": step_i}),
                spec.metrics,
            )
            if spec.frontier_filter is not None:
                frontier = new_state.filter(spec.frontier_filter).select(
                    "id", *spec.state_cols
                )
                # snapshot view carrying the frontier marker: a resumed run
                # restores exactly this frontier (see the resume path above)
                ckpt_frame = new_state.select(
                    "id",
                    *spec.state_cols,
                    F.expr(spec.frontier_filter).cast("boolean").alias("_frontier"),
                )
            state = new_state.select("id", *spec.state_cols)
            if spec.frontier_filter is None:
                frontier = state
                ckpt_frame = state
            step_i += 1
            fx.record(aggs)
            if spec.halt(aggs):
                converged = True

            # Mutations resolve at EVERY barrier, including the one where
            # the run converges — a mutation scheduled for superstep K must
            # not be silently skipped because the algorithm settled at K.
            # They resolve BEFORE the checkpoint below so a snapshot at
            # this barrier captures the post-mutation graph + state —
            # resume then re-fires callbacks only for supersteps > this one.
            # Two request sources share one application under the paper's
            # §3.4 partial ordering (removals first, then additions — an
            # edge both removed and added in one barrier ends up PRESENT):
            # the driver-side `mutations(superstep)` callback, and the
            # spec's own `request_mutations` (vertex-initiated, derived
            # from the post-superstep state — never collected).
            mut_add: DataFrame | None = None
            mut_remove: DataFrame | None = None
            if mutations is not None:
                mut = mutations(step_i)
                if mut is not None:
                    mut_add, mut_remove = mut
            if spec.request_mutations is not None:
                # gate: when the spec exposes a `mutation_requests` metric,
                # a zero value means no vertex asked — skip the request
                # evaluation (and its action) entirely on quiet barriers
                gated_off = (
                    "mutation_requests" in spec.metrics
                    and not (aggs.get("mutation_requests") or 0)
                )
                if not gated_off:
                    req = spec.request_mutations(state, aggs, step_i)
                    if req is not None:
                        op_counts = {
                            r["op"]: r["n"]
                            for r in req.groupBy("op")
                            .agg(F.count(F.lit(1)).alias("n"))
                            .collect()
                        }
                        unknown = set(op_counts) - {"add", "remove"}
                        if unknown:
                            raise ValueError(
                                f"pregel_run({spec.algo}): request_mutations "
                                f"emitted unknown op(s) {sorted(unknown)} — "
                                "only 'add'/'remove' are defined (§3.4)"
                            )
                        if op_counts.get("remove"):
                            rdf = req.filter(F.col("op") == "remove").select(
                                "src", "dst"
                            )
                            mut_remove = (
                                rdf
                                if mut_remove is None
                                else mut_remove.select("src", "dst").unionByName(rdf)
                            )
                        if op_counts.get("add"):
                            adf = req.filter(F.col("op") == "add").select(
                                *edges.columns
                            )
                            mut_add = (
                                adf
                                if mut_add is None
                                else mut_add.select(*edges.columns).unionByName(adf)
                            )
            if (mut_add is not None or mut_remove is not None) and (
                step_i >= max_supersteps
            ):
                # terminal barrier: no superstep remains to observe the
                # mutated graph — applying it would return state labeled
                # converged=False for a graph it never ran on
                warnings.warn(
                    f"pregel_run({spec.algo}): mutation returned at the "
                    f"max_supersteps barrier ({step_i}) cannot be "
                    "applied — no superstep remains; raise "
                    "max_supersteps",
                    stacklevel=2,
                )
                mut_add = mut_remove = None
            if mut_add is not None or mut_remove is not None:
                any_mutation = True
                # §3.4 partial ordering: removals FIRST ...
                if mut_remove is not None:
                    edges = edges.join(
                        mut_remove.select("src", "dst"), ["src", "dst"], "left_anti"
                    )
                # ... then additions. Preserve ALL edge columns (weights
                # etc.) — added edges must carry the same schema. Re-adding
                # an existing (src,dst) replaces the old row
                # (last-write-wins); duplicates WITHIN the added batch
                # resolve to the lexicographic-min extra columns —
                # deterministic, unlike dropDuplicates' arbitrary survivor
                # on conflicting weights
                if mut_add is not None:
                    add_rows = mut_add.select(*edges.columns)
                    extras = [c for c in edges.columns if c not in ("src", "dst")]
                    if extras:
                        add_rows = (
                            add_rows.groupBy("src", "dst")
                            .agg(F.min(F.struct(*extras)).alias("_e"))
                            .select("src", "dst", "_e.*")
                        )
                    else:
                        add_rows = add_rows.distinct()
                    edges = edges.join(
                        add_rows.select("src", "dst"), ["src", "dst"], "left_anti"
                    ).unionByName(add_rows)
                # weight-preserving canonicalization: drop self-loops
                # WITHOUT projecting away extra edge columns (plain
                # canonicalize would strip weights); (src,dst) is
                # already unique — conflicts were resolved above
                edges = (
                    edges.filter(F.col("src") != F.col("dst"))
                    .repartition(p, "src")
                    .localCheckpoint()
                )
                links.unpersist()
                links = build_links(edges)
                # NEW vertices get init rows; existing state is kept even
                # if a vertex became edge-isolated (edge removal never
                # removes a vertex — paper §3.4 separates the two)
                verts = vertices_of(edges).repartition(p, "id")
                new_ids = verts.join(state, "id", "left_anti")
                state = state.unionByName(spec.init_state(new_ids)).localCheckpoint()
                frontier = state  # reactivate everything at the barrier
                converged = False  # a mutated graph must be re-settled
                mutated = True
                edges_dirty = True
                if spec.frontier_filter is not None:
                    ckpt_frame = state.select(
                        "id",
                        *spec.state_cols,
                        F.lit(True).alias("_frontier"),
                    )
                else:
                    ckpt_frame = state

            if checkpointer is not None:
                cp = checkpointer.maybe_checkpoint(
                    spec.algo,
                    step_i,
                    ckpt_frame,
                    delta=aggs.get("delta"),
                    active=aggs.get("active"),
                    aggregates=dict(aggs),
                    # write the mutated edge table alongside state (paper
                    # §4.2: the checkpoint must capture the graph once it
                    # diverged from the input); skipped while unchanged —
                    # resume reads the latest edge snapshot <= its superstep
                    edges=edges if edges_dirty else None,
                    mutated=mutated,
                )
                if cp is not None:
                    # durable read-back replaces in-memory state/frontier
                    edges_dirty = False
                    if "_frontier" in cp.columns:
                        frontier = cp.filter("_frontier").select(
                            "id", *spec.state_cols
                        )
                        state = cp.select("id", *spec.state_cols)
                    else:
                        state = cp
                        frontier = state

        info.converged = converged
        if mutations is not None and not any_mutation:
            warnings.warn(
                f"pregel_run({spec.algo}): the mutations callback never "
                f"returned a mutation before the run ended at superstep "
                f"{step_i} (converged={converged}) — a mutation scheduled "
                "for a later superstep was not applied",
                stacklevel=2,
            )
        links.unpersist()
        if checkpointer is not None:
            # carry the frontier marker in the final snapshot too: resuming
            # an unconverged max_supersteps run must not re-widen the
            # frontier (non-idempotent specs — see the resume path)
            checkpointer.finish(
                spec.algo, step_i, ckpt_frame, converged=converged,
                aggregates=dict(aggs),
                edges=edges if edges_dirty else None, mutated=mutated,
            )
        return state, info
