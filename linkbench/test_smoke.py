"""Smoke tests of the benchmark harness itself, on tiny inputs.

    python3 -m pytest linkbench/test_smoke.py -q

One Spark session runs every workload with `--smoke` sizes and the
trace on, which exercises the untraced passes, the traced pass and
every output check. A second test runs the command line once and
checks the shape of its last line. Takes a few minutes on 4 cores:
the repo workload's PageRank still runs its full barrier count on the
tiny graph.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

# the per-operation times each workload must report
OP_METRICS = {
    "repo_iterate": ["pagerank_s", "components_s", "lpa_s", "pagerank_ckpt_s",
                     "edge_msgs_per_s"],
    "uniform_iterate": ["graph_build_s", "pagerank_s", "components_s", "edge_msgs_per_s"],
    "corpus_ingest": ["graph_build_s", "triangles_s", "dedup_s"],
}
# layers each workload must exercise (nonzero in its traced pass)
LAYERS_USED = {
    "repo_iterate": ["graph.prepare_s", "pregel.pagerank.supersteps",
                     "pregel.lpa.jobs_per_step", "checkpoint.writes",
                     "pregel.components.active_frac"],
    "uniform_iterate": ["graph.prepare_s", "pregel.pagerank.shuffle_bytes_per_step",
                        "pregel.components.supersteps"],
    "corpus_ingest": ["corpus.derive_s", "triangles.total", "dedup.candidates",
                      "dedup.shingles_s"],
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    assert run.use_checkout() is None
    s = run.start_session(tmp_path_factory.mktemp("session"), run.host_info()["nproc"])
    yield s
    run.stop_session(s)


@pytest.mark.parametrize("workload", list(OP_METRICS))
def test_workload_smoke(spark, workload, tmp_path):
    from workloads import SIZES

    args = argparse.Namespace(workload=workload, seed=7, seconds=0, trace=1)
    r, report, layers = run.measure(spark, args, SIZES["smoke"], tmp_path, session=(1.0, 1.0))
    assert r.failed == 0, r.errors
    # set-up checks, then untraced, traced and untraced passes
    assert r.attempted == len(r.wl.setup_checks()) + len(r.wl.ops()) * 3
    for name in ["setup_s", "setup_wall_s", "run_s", "run_cpu_s", "heap_live_mb",
                 *OP_METRICS[workload]]:
        assert report[name] > 0, name
    assert list(layers) == list(run.PER_LAYER)
    for name in LAYERS_USED[workload]:
        assert layers[name] > 0, name
    # every operation's layer self times account for its traced wall
    assert layers["trace.unaccounted_frac"] <= run.ACCOUNTED_TOL


def test_command_line_contract(tmp_path):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "corpus_ingest", "--seed", "3",
         "--seconds", "1", "--trace", "0", "--smoke"],
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout.splitlines()
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert {k: m["unit"] for k, m in result["metrics"].items()} == run.END_TO_END
    assert any(line.startswith("host nproc=") for line in out)
