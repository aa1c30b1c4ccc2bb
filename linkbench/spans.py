"""Layer spans for the traced run, read from Spark's own accounting.

A span wraps one call into a `linkgraph` module. Around the call the
span sets a Spark job group; when the call returns it drains the
listener bus and reads the group's jobs, stages, tasks, shuffle bytes
and spill from the driver's status store. Nothing here adds a Spark
job: every read is driver-side.

A lazy stage (a DataFrame the module returns unexecuted) is timed with
a noop-sink write inside its span (`probe`). A later span that consumes
it names it as `input`, and its self time and counters are its own
minus the input's probe, so the self times of one operation's spans
sum to the work the untraced operation does. Probes and counter reads
are the tracer's own cost; each span records both.

`NullTracer` has the same interface and does nothing; the untraced
passes run the same operation code with it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")


@dataclass
class Span:
    layer: str
    op: str
    wall_s: float = 0.0
    counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    probe_s: float = 0.0
    probe_counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    read_s: float = 0.0  # reading the counters back, after the span ends
    input: "Span | None" = None

    @property
    def self_s(self) -> float:
        return self.wall_s - (self.input.probe_s if self.input else 0.0)

    def self_count(self, name: str) -> int:
        base = self.input.probe_counts[name] if self.input else 0
        return self.counts[name] - base


class NullTracer:
    """Untraced mode: spans and probes cost nothing."""

    op = ""

    @contextmanager
    def span(self, layer: str, input: Span | None = None):
        yield None

    def probe(self, df) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self.op = ""
        self._n = 0
        self._current: Span | None = None

    def _read_group(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    @contextmanager
    def span(self, layer: str, input: Span | None = None):
        self._n += 1
        group = f"linkbench-{self._n}"
        s = Span(layer, self.op, input=input)
        self._current = s
        self.sc.setJobGroup(group, layer)
        t0 = time.monotonic()
        try:
            yield s
        finally:
            t1 = time.monotonic()
            s.wall_s = t1 - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._current = None
            if s.probe_s:
                s.probe_counts = self._read_group(group + "-probe")
            own = self._read_group(group)
            s.counts = {k: own[k] + s.probe_counts[k] for k in COUNTERS}
            s.read_s = time.monotonic() - t1
            self.spans.append(s)

    def probe(self, df) -> None:
        """Execute a lazy result inside the current span (noop sink) and
        record that part separately, so consumers can subtract it."""
        s = self._current
        group = f"linkbench-{self._n}"
        self.sc.setJobGroup(group + "-probe", s.layer + ".probe")
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        s.probe_s = time.monotonic() - t0
        self.sc.setJobGroup(group, s.layer)
