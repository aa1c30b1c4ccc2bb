#!/usr/bin/env python3
"""linkbench: the linkgraph benchmark on one host.

    python3 linkbench/run.py --workload repo_iterate --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md beside this file) in one driver
process on local[nproc], against the `linkgraph` package of the
checkout this file sits in. Set-up (session start, warm-up, input
generation) is timed on its own; then whole passes over the workload's
operations repeat while another pass fits in `--seconds` of operation
time (at least one pass).
Every output is checked outside the timed region. `--trace 1` adds one
traced pass, checks that each operation's layer self times account for
its wall, and reports the per-layer metrics instead of the end-to-end
ones. `--smoke` swaps in tiny inputs for the harness's own tests.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The lines before it report the host, every operation's time and the
failed fraction.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SETUP_REPS = 3
DRIVER_MEMORY = "2g"

# The gated metrics and their units, as BENCHMARK.json lists them:
# end-to-end metrics in untraced runs, per-layer metrics in traced ones.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
PREGEL_ALGOS = ("pagerank", "pagerank_ckpt", "components", "lpa")
# an operation's layer self times must sum to its wall within this share
ACCOUNTED_TOL = 0.1

# units of the metrics that are printed but not gated; any other
# printed name is an operation's time in s
REPORT_UNITS = {
    "edge_msgs_per_s": "edges/s", "failed_frac": "ratio", "peak_rss_mb": "MB",
    **END_TO_END, **PER_LAYER,
}


def unit_of(name: str) -> str:
    if name in REPORT_UNITS:
        return REPORT_UNITS[name]
    return "ratio" if name.startswith("trace.accounted.") else "s"


# ------------------------------------------------------------------ host


def host_info() -> dict:
    mem_kb = next(
        int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:")
    )
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1)}


def loadavg() -> str:
    return " ".join(open("/proc/loadavg").read().split()[:3])


def tree_pids(root_pid: int) -> list[int]:
    """A process and all its descendants (here: the Python driver, the
    driver JVM and the Python workers it forks)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = open(f"/proc/{d}/stat").read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds used so far by a process tree, reaped
    children included. Unlike wall time it excludes the time a busy vCPU
    is stolen by the hypervisor."""
    ticks = 0
    for pid in tree_pids(root_pid):
        try:
            fields = open(f"/proc/{pid}/stat").read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_bytes(root_pid: int) -> int:
    """Sum over a process tree of each process's peak resident set
    (VmHWM), so no sampling is needed."""
    total = 0
    for pid in tree_pids(root_pid):
        try:
            status = open(f"/proc/{pid}/status").read()
        except OSError:
            continue
        total += next(
            (int(line.split()[1]) * 1024 for line in status.splitlines()
             if line.startswith("VmHWM:")),
            0,
        )
    return total


def clock() -> tuple[float, float]:
    """(wall, CPU) seconds now; CPU as tree_cpu_s of this process."""
    return time.monotonic(), tree_cpu_s(os.getpid())


def since(t0: tuple[float, float]) -> tuple[float, float]:
    return tuple(b - a for a, b in zip(t0, clock()))


# --------------------------------------------------------------- session


def start_session(tmp: Path, cores: int):
    from linkgraph.session import get_spark

    local = tmp / "spark-local"
    local.mkdir(parents=True)
    # the env var outranks spark.local.dir; point both at the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    return get_spark(
        app="linkbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use after a full collection: the memory the
    engine (driver and, in local mode, executor) still holds."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


# ------------------------------------------------------------ measuring


class Run:
    def __init__(self, workload, trace_mode: bool):
        from spans import NullTracer, Tracer

        self.wl = workload
        self.tracer = Tracer(workload.spark) if trace_mode else NullTracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []  # per-op walls of each measured pass

    def record(self, err: str | None) -> None:
        if err:
            self.failed += 1
            self.errors.append(err)
            print(f"CHECK FAILED {err}", file=sys.stderr, flush=True)

    def run_pass(self, tr) -> tuple[dict, float, dict]:
        """One pass over the workload's operations. Returns per-op walls,
        the CPU seconds the operations used, and per-op results; each
        result is checked right after its op, outside the timed region."""
        walls, cpu, results = {}, 0.0, {}
        for op in self.wl.ops():
            tr.op = op.name
            self.attempted += 1
            t0 = clock()
            try:
                res = op.run(tr)
                wall, op_cpu = since(t0)
                walls[op.name] = wall
                cpu += op_cpu
                err = op.check(res)
            except Exception:  # one failing op must not end the run
                err = f"{op.name} raised:\n{traceback.format_exc()}"
                res = None
            self.record(err)
            results[op.name] = res
        tr.op = ""
        self.wl.end_pass()
        return walls, cpu, results


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pregel_metrics(m: dict, algo: str, res, span) -> None:
    _, info, _ = res
    steps = max(info.supersteps, 1)
    walls = [s.wall_s for s in info.log]
    p = f"pregel.{algo}."
    m[p + "supersteps"] = info.supersteps
    m[p + "step_median_s"] = median(walls)
    m[p + "step_max_s"] = max(walls, default=0.0)
    m[p + "links_s"] = span.wall_s - sum(walls)
    m[p + "jobs_per_step"] = span.counts["jobs"] / steps
    m[p + "stages_per_step"] = span.counts["stages"] / steps
    m[p + "tasks_per_step"] = span.counts["tasks"] / steps
    m[p + "shuffle_bytes_per_step"] = span.counts["shuffle_bytes"] / steps
    m[p + "spill_bytes"] = span.counts["spill_bytes"]


def layer_metrics(run: Run, session_s: float, passes: list, traced_walls: dict,
                  traced: dict) -> tuple[dict, dict]:
    """Per-layer metrics from the traced pass, and per operation the sum
    of its layers' self times over its traced wall less the tracer's own
    cost (probes and counter reads), so a call left outside every span
    shows as a ratio below 1. A layer the workload does not call reads 0."""
    wl, spans = run.wl, run.tracer.spans
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    for layer in ("fixtures.gen", "fixtures.to_spark"):
        m[layer + "_s"] = sum(s.self_s for s in spans if s.layer == layer) / SETUP_REPS
    # the last span of each layer: the traced pass's, or for a graph
    # built in set-up, the last build's
    by_layer = {s.layer: s for s in spans}
    n_vertices, n_edges = wl.graph_counts

    if "corpus" in by_layer:
        s = by_layer["corpus"]
        m["corpus.derive_s"] = s.self_s
        m["corpus.jobs"] = s.self_count("jobs")
        m["corpus.tasks"] = s.self_count("tasks")
        m["corpus.shuffle_bytes"] = s.self_count("shuffle_bytes")
        m["corpus.edges"] = n_edges
    if "graph" in by_layer:
        s = by_layer["graph"]
        m["graph.prepare_s"] = s.self_s
        m["graph.jobs"] = s.self_count("jobs")
        m["graph.shuffle_bytes"] = s.self_count("shuffle_bytes")
        m["graph.vertices"], m["graph.edges"] = n_vertices, n_edges
    for algo in PREGEL_ALGOS:
        span = by_layer.get(f"pregel.{algo}")
        if span is not None and traced.get(algo) is not None:
            pregel_metrics(m, algo, traced[algo], span)
    if traced.get("components") is not None:
        _, info, _ = traced["components"]
        active = sum(s.active or 0 for s in info.log)
        m["pregel.components.active_frac"] = active / (n_vertices * max(info.supersteps, 1))
    if "pregel.pagerank_ckpt" in by_layer:
        m["checkpoint.writes"], m["checkpoint.bytes"] = wl.checkpoint_stats()
        # against the same number of plain PageRank supersteps
        ckpt_info = traced["pagerank_ckpt"][1]
        plain = traced["pagerank"][1]
        m["checkpoint.overhead_s"] = by_layer["pregel.pagerank_ckpt"].wall_s - (
            m["pregel.pagerank.links_s"]
            + sum(s.wall_s for s in plain.log[: ckpt_info.supersteps])
        )
    if "triangles" in by_layer:
        s = by_layer["triangles"]
        m["triangles.s"] = s.self_s
        m["triangles.jobs"] = s.self_count("jobs")
        m["triangles.shuffle_bytes"] = s.self_count("shuffle_bytes")
        m["triangles.total"] = traced["triangles"]
    if "dedup.lsh" in by_layer:
        parts = [by_layer[f"dedup.{x}"] for x in ("shingles", "signatures", "lsh")]
        m["dedup.shingles_s"], m["dedup.signatures_s"], m["dedup.lsh_s"] = (
            s.self_s for s in parts
        )
        m["dedup.shuffle_bytes"] = sum(s.self_count("shuffle_bytes") for s in parts)
        m["dedup.candidates"] = traced["dedup"]

    untraced_run = median([sum(p.values()) for p in passes])
    m["trace.overhead_frac"] = sum(traced_walls.values()) / untraced_run - 1
    accounted = {}
    for op, wall in traced_walls.items():
        own = [s for s in spans if s.op == op]
        accounted[op] = sum(s.self_s for s in own) / (
            wall - sum(s.probe_s + s.read_s for s in own)
        )
    m["trace.unaccounted_frac"] = max(abs(a - 1) for a in accounted.values())
    return m, accounted


def measure(spark, args, sizes: dict, tmp: Path, session: tuple[float, float]
            ) -> tuple[Run, dict, dict]:
    """`session` is the (wall, CPU) seconds the session took to start."""
    from spans import NullTracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, sizes, str(tmp))
    run = Run(wl, bool(args.trace))
    builds = []
    for _ in range(SETUP_REPS):
        t0 = clock()
        wl.build_inputs(args.seed, run.tracer)
        builds.append(since(t0))
    t0 = clock()
    wl.warm_up(run.tracer)
    warm = since(t0)
    for err in wl.setup_checks().values():
        run.attempted += 1
        run.record(err)
    # (wall, CPU) of session start + the median input build + warm-up
    setup = [s + median(b) + w for s, b, w in zip(session, zip(*builds), warm)]

    # whole passes, while the next one (at the mean pass time so far)
    # would still end within --seconds; at least one
    passes, cpus, measured = run.passes, [], 0.0
    while True:
        walls, cpu, last = run.run_pass(NullTracer())
        passes.append(walls)
        cpus.append(cpu)
        measured += sum(walls.values())
        if measured * (1 + 1 / len(passes)) > args.seconds:
            break
    report = {
        "setup_s": setup[1],
        "setup_wall_s": setup[0],
        "warm_up_s": warm[0],
        "run_s": median([sum(p.values()) for p in passes]),
        "run_cpu_s": median(cpus),
    }
    report["heap_live_mb"] = live_heap_mb(spark)
    for op in passes[0]:
        report[f"{op}_s"] = median([p[op] for p in passes if op in p])
    if last.get("pagerank") is not None:
        info = last["pagerank"][1]
        report["edge_msgs_per_s"] = wl.graph_counts[1] * info.supersteps / report["pagerank_s"]
    layers = {}
    if args.trace:
        # untraced, traced, untraced: the traced pass is compared with
        # the untraced passes on both sides of it, so the JIT warming
        # that continues from pass to pass does not read as overhead
        traced_walls, _, traced = run.run_pass(run.tracer)
        after, _, _ = run.run_pass(NullTracer())
        if run.failed:  # a failed operation leaves nothing to attribute
            return run, report, dict.fromkeys(PER_LAYER, 0.0)
        around = [passes[-1], after]
        layers, accounted = layer_metrics(run, session[0], around, traced_walls, traced)
        for op, a in accounted.items():
            report[f"trace.accounted.{op}"] = a
            if abs(a - 1) > ACCOUNTED_TOL:
                run.record(f"{op}: layer self times are {a:.3f} of its traced wall")
    return run, report, layers


def use_checkout() -> str | None:
    """Import `linkgraph` from the checkout this file is in, never from
    an installed copy. Returns an error message when that fails."""
    sys.path[:] = [str(HERE), str(ROOT)] + [p for p in sys.path if p not in (str(HERE), str(ROOT))]
    os.environ["PYTHONPATH"] = str(ROOT)  # Python workers import linkgraph
    try:
        import linkgraph
    except ImportError as e:
        return f"cannot import linkgraph from {ROOT}: {e}"
    if Path(linkgraph.__file__).resolve().parent.parent != ROOT:
        return f"linkgraph resolved outside {ROOT}"
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["repo_iterate", "uniform_iterate", "corpus_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (harness tests)")
    args = ap.parse_args(argv)

    err = use_checkout()
    if err:
        print(f"linkbench: {err}", file=sys.stderr)
        return 2
    import pyspark
    from workloads import SIZES

    sizes = SIZES["smoke" if args.smoke else "full"]
    tmp = ROOT / ".linkbench_tmp" / f"{args.workload}-{os.getpid()}"
    host = host_info()
    load_start = loadavg()
    try:
        t0 = clock()
        spark = start_session(tmp, host["nproc"])
        session = since(t0)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        try:
            run, report, layers = measure(spark, args, sizes, tmp, session)
            report["peak_rss_mb"] = tree_peak_rss_bytes(os.getpid()) / 2**20
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    report["failed_frac"] = run.failed / run.attempted

    print(
        f"host nproc={host['nproc']} mem_gb={host['mem_gb']} pyspark={pyspark.__version__} "
        f"java={java} driver_memory={DRIVER_MEMORY} loadavg_start={load_start} "
        f"loadavg_end={loadavg()}"
    )
    print(f"workload {args.workload} seed={args.seed} passes={len(run.passes)} "
          f"smoke={args.smoke} trace={args.trace}")
    for i, walls in enumerate(run.passes):
        print(f"  pass {i}: " + " ".join(f"{op}={w:.3f}s" for op, w in walls.items()))
    for k, v in report.items():
        print(f"  {k} = {v:.6g} {unit_of(k)}")
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
