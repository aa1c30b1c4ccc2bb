"""Durable superstep checkpointing + lineage/metrics + resume (B9/B10/B13).

Pregel's fault-tolerance contract (paper §4.2): persist vertex state
at superstep boundaries; on failure, reload the last checkpoint and
re-enter the loop. Here each checkpoint is one catalog snapshot of the
state DataFrame tagged (run_id, algo, superstep), plus appended
per-partition lineage/metrics rows:

    run_id string, algorithm string, superstep int, partition int,
    rows long, state_hash long, delta double, active long, wall_s double

`state_hash` is an order-independent per-partition content hash
(bit_xor of xxhash64 over all columns) — cheap, computed in the same job
that writes the snapshot, and enough to assert resume-equality in
tests. The snapshot read-back REPLACES the in-memory state, which also
truncates Spark lineage durably (localCheckpoint blocks die with the
session; these survive it — that is the resume path).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


LINEAGE_TABLE = "lineage"


class CheckpointManager:
    """every: superstep cadence. min_interval_s: optional time gate —
    skip a due checkpoint if the last one for this algo is fresher than
    this many seconds (adaptive cadence: cheap fast supersteps don't
    pay a snapshot write each k steps; slow ones still do)."""

    def __init__(
        self,
        catalog,
        run_id: str,
        every: int = 5,
        min_interval_s: float | None = None,
    ):
        self.catalog = catalog
        self.run_id = run_id
        self.every = max(1, every)
        self.min_interval_s = min_interval_s
        self._last: dict[str, tuple[int, float]] = {}  # algo -> (step, t)

    def _state_table(self, algo: str) -> str:
        return f"state_{algo}"

    def _partition_metrics(self, state: DataFrame) -> DataFrame:
        cols = [F.col(c) for c in state.columns]
        return (
            state.select(
                F.spark_partition_id().alias("partition"),
                F.xxhash64(*cols).alias("h"),
            )
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor("h").alias("state_hash"),  # XOR: no ANSI overflow
            )
        )

    def checkpoint(
        self,
        algo: str,
        superstep: int,
        state: DataFrame,
        delta: float | None = None,
        active: int | None = None,
        aggregates: dict | None = None,
        extra_meta: dict | None = None,
    ) -> DataFrame:
        """Write a snapshot + lineage rows; return the read-back state.

        `aggregates` (the superstep's spec.metrics values) rides the
        snapshot meta so a resumed run re-enters the loop with the same
        aggregator state the next step() would have seen (paper §3.3 —
        aggregates of superstep S are input to S+1; without them a
        metric-dependent program like redistribute-mode PageRank would
        restart from its superstep-1 closed form mid-run)."""
        t0 = time.monotonic()
        snap = self.catalog.write_snapshot(
            self._state_table(algo),
            state,
            meta={
                "run_id": self.run_id,
                "algorithm": algo,
                "superstep": superstep,
                **(
                    {"aggregates": {k: v for k, v in aggregates.items()}}
                    if aggregates
                    else {}
                ),
                **(extra_meta or {}),
            },
        )
        self._last[algo] = (superstep, time.monotonic())
        wall = time.monotonic() - t0
        lineage = self._partition_metrics(state).select(
            F.lit(self.run_id).alias("run_id"),
            F.lit(algo).alias("algorithm"),
            F.lit(superstep).cast("int").alias("superstep"),
            "partition",
            "rows",
            "state_hash",
            F.lit(delta).cast("double").alias("delta"),
            F.lit(active).cast("long").alias("active"),
            F.lit(wall).cast("double").alias("wall_s"),
        )
        self.catalog.append(LINEAGE_TABLE, lineage, meta={"run_id": self.run_id})
        return self.catalog.read_snapshot(self._state_table(algo), snap.snapshot_id)

    def maybe_checkpoint(
        self, algo: str, superstep: int, state: DataFrame, **metrics
    ) -> DataFrame | None:
        if superstep % self.every != 0:
            return None
        if self.min_interval_s is not None:
            last = self._last.get(algo)
            if (
                last is not None
                and time.monotonic() - last[1] < self.min_interval_s
            ):
                return None  # adaptive cadence: too soon since last write
        return self.checkpoint(algo, superstep, state, **metrics)

    def finish(
        self,
        algo: str,
        superstep: int,
        state: DataFrame,
        converged: bool = False,
        aggregates: dict | None = None,
    ) -> None:
        """Mark the run finished. If the last checkpoint already holds
        this superstep's state, only retag its meta (skips rewriting
        the snapshot — the write dominated short CLI runs); otherwise
        write a final snapshot carrying the flags (and the final
        aggregates, so resuming an unconverged max_supersteps run
        re-enters with the right aggregator state)."""
        extra = {"final": True, "converged": bool(converged)}
        last = self._last.get(algo)
        if last is None:
            # fresh manager resuming an earlier run: the catalog (not
            # this process) may already hold this superstep's snapshot —
            # e.g. a resume whose start_step already satisfies
            # max_supersteps re-finishes without ever checkpointing.
            # Without this fallback finish() would rewrite a full
            # duplicate snapshot of identical state.
            try:
                snap = self.catalog.latest(
                    self._state_table(algo),
                    predicate=lambda m: m.get("run_id") == self.run_id,
                )
            except FileNotFoundError:
                snap = None
            if snap is not None and int(snap.meta["superstep"]) == superstep:
                last = (superstep, 0.0)
        if last is not None and last[0] == superstep:
            self.catalog.update_latest_meta(
                self._state_table(algo),
                extra,
                predicate=lambda m: m.get("run_id") == self.run_id,
            )
            return
        self.checkpoint(
            algo, superstep, state, aggregates=aggregates, extra_meta=extra
        )

    def try_resume(self, algo: str) -> tuple[int, DataFrame, dict] | None:
        """Latest committed (superstep, state, meta) for this run_id.
        meta['converged'] lets callers short-circuit a finished run."""
        try:
            snap = self.catalog.latest(
                self._state_table(algo),
                predicate=lambda m: m.get("run_id") == self.run_id,
            )
        except FileNotFoundError:
            return None
        if snap is None:
            return None
        step = int(snap.meta["superstep"])
        return (
            step,
            self.catalog.read_snapshot(self._state_table(algo), snap.snapshot_id),
            snap.meta,
        )

    def lineage(self) -> DataFrame:
        return self.catalog.read_all(LINEAGE_TABLE).filter(
            F.col("run_id") == self.run_id
        )
