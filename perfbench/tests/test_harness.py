"""Tests of the benchmark harness itself; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import check, proctree, run, workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_inputs_other_seed_other_inputs(name):
    w = workloads.WORKLOADS[name]
    a, b, c = (workloads.make_inputs(w, s) for s in (7, 7, 8))
    assert a.frame.equals(b.frame) and a.config == b.config
    assert not a.frame.equals(c.frame)
    assert a.config.seed != c.config.seed
    assert len(a.frame) == w.pairs * w.points


def test_metric_names_are_well_formed_and_match_the_declaration():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    layers = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    for name, _ in e2e + layers + [("failed_frac", "")]:
        assert NAME.fullmatch(name), name
    assert e2e == list(run.END_TO_END.items())
    assert layers == list(run.PER_LAYER.items())
    names = [n for n, _ in e2e + layers]
    assert len(set(names)) == len(names)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def tiny():
    w = workloads.Workload("tiny", pairs=2, points=40, num_samples=3, path="fastpath", warmup_calls=0)
    inputs = workloads.make_inputs(w, 3)
    expected, _ = check.expected_rows(inputs.frame, inputs.config)
    rows = [(p, d, ls, c, s, v) for (p, d, ls), (c, s, v) in expected.items()]
    return expected, rows


def test_checker_accepts_oracle_rows(tiny):
    expected, rows = tiny
    assert check.failed_pairs(rows, expected) == set()
    no_slope = [r[:4] + (None,) + r[5:] for r in rows]
    assert check.failed_pairs(no_slope, expected) == set()


def test_checker_rejects_perturbed_correlation(tiny):
    expected, rows = tiny
    i = next(i for i, r in enumerate(rows) if r[0] == 1)
    p, d, ls, c, s, v = rows[i]
    bad = rows[:i] + [(p, d, ls, c + 1e-8, s, v)] + rows[i + 1:]
    assert check.failed_pairs(bad, expected) == {1}
    bad = rows[:i] + [(p, d, ls, c, s, not v)] + rows[i + 1:]
    assert check.failed_pairs(bad, expected) == {1}


def test_checker_rejects_missing_extra_and_duplicate_rows(tiny):
    expected, rows = tiny
    assert check.failed_pairs(rows[1:], expected) == {rows[0][0]}
    assert check.failed_pairs(rows + [rows[-1]], expected) == {rows[-1][0]}
    extra = (0, "x_causes_y", 10**6, 0.0, 0.0, False)
    assert check.failed_pairs(rows + [extra], expected) == {0}


def test_cube_entries_counts_the_reference_golden_shape():
    # 301 points, E=3, tau=1, 50 samples, auto ladder: the reference's
    # golden test; its kNN join produces 31,354,000 candidate pairs
    from ccm_spark import CCMConfig

    cfg = CCMConfig(num_samples=50)
    assert check.cube_entries(301, cfg) == 31_354_000


BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(30)"


def test_proc_walker_counts_child_processes():
    before = proctree.tree_cpu()
    child = subprocess.Popen([sys.executable, "-c", BUSY])
    try:
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            procs = {p.pid: p for p in proctree.descendants(proctree.os.getpid())}
            if child.pid in procs and procs[child.pid].cpu_s >= 0.3:
                break
            time.sleep(0.05)
        assert child.pid in procs
        assert procs[child.pid].comm.startswith("python")
        assert proctree.diff(proctree.tree_cpu(), before)["worker"] >= 0.25
    finally:
        child.kill()
        child.wait(timeout=10)
    # once reaped, the child's time moves into the parent's cutime
    after = proctree.tree_cpu()
    assert child.returncode is not None
    assert proctree.diff(after, before)["driver"] >= 0.25


# forks a worker that burns 0.3 s of CPU and exits, the way PySpark's
# daemon runs its workers: with SIGCHLD ignored, so the kernel drops the
# worker's time when it exits
DAEMON = """
import os, signal, time
signal.signal(signal.SIGCHLD, signal.SIG_IGN)
if os.fork() == 0:
    t = time.process_time()
    while time.process_time() - t < 0.3: pass
    time.sleep(1.0)
    os._exit(0)
time.sleep(30)
"""


def test_worker_exiting_under_a_daemon_does_not_turn_the_tree_negative():
    daemon = subprocess.Popen([sys.executable, "-c", DAEMON])
    try:
        deadline = time.monotonic() + 20
        while True:
            procs = proctree.descendants(daemon.pid)
            worker = next((p for p in procs if p.pid != daemon.pid), None)
            if worker is not None and worker.cpu_s >= 0.25:
                break
            assert time.monotonic() < deadline
            time.sleep(0.05)
        before = proctree.tree_cpu(daemon.pid)
        assert before[worker.pid].time_dropped_on_exit
        while proctree.read_proc(worker.pid) is not None:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        assert proctree.diff(proctree.tree_cpu(daemon.pid), before)["total"] > -0.05
    finally:
        daemon.kill()
        daemon.wait(timeout=10)
