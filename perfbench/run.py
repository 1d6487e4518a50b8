"""CCM benchmark: one workload, one closed-loop client, one call at a time.

    python3 perfbench/run.py --workload plan_golden --seed 1 --seconds 12 --trace 0

Set-up is timed three times (the first start launches the JVM; the others
restart the session inside it) and reported as the median. The workload's
untimed warm-up calls absorb class loading, codegen and most of the JIT's
work; then its public call repeats until ``--seconds`` have passed and at
least five calls were made. Every call's rows are checked
against the numpy oracle, and a call that leaves cached blocks behind
fails. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics, from probe
calls under Spark job groups, a staged plan run and the oracle's timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import check, proctree, sparkstats, trace, workloads  # noqa: E402

SETUP_REPS = 3
# the median of five rejects two calls slowed by a burst of hypervisor steal
MIN_CALLS = 5

# name -> unit of every metric the last line can carry; BENCHMARK.json
# declares the same names in the same order
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "embedding.wall_s": "s", "embedding.rows": "count",
    "sampling.wall_s": "s", "sampling.rows": "count",
    "knn.wall_s": "s", "knn.jvm_cpu_s": "s", "knn.rows": "count", "knn.candidate_pairs": "count",
    "knn.kept_ratio": "ratio", "knn.spill_mb": "MB", "knn.shuffle_write_mb": "MB",
    "simplex.wall_s": "s", "simplex.rows": "count",
    "stats.wall_s": "s", "stats.rows": "count",
    "cross_map.jobs": "count", "cross_map.stages": "count", "cross_map.tasks": "count",
    "cross_map.shuffle_write_mb": "MB", "cross_map.spill_mb": "MB", "cross_map.staging_overhead_s": "s",
    "oracle.cross_map_s": "s", "oracle.pairwise_distances_s": "s", "oracle.cross_map_lib_batch_s": "s",
    "oracle.cube_entries": "count", "oracle.kernel_core_s": "s",
    "fastpath.overhead_core_s": "s", "fastpath.parallel_efficiency": "ratio",
    "fastpath.tasks": "count", "fastpath.shuffle_write_mb": "MB",
    "process.jvm_cpu_s": "s", "process.worker_cpu_s": "s", "process.driver_cpu_s": "s",
    "session.start_s": "s", "session.jvm_start_s": "s", "session.warmup_s": "s", "generators.s": "s",
    "trace.overhead_s": "s",
}
UNITS = {**END_TO_END, **PER_LAYER, "failed_frac": "ratio"}


def median(values) -> float:
    return float(statistics.median(values))


class Bench:
    def __init__(self, w: workloads.Workload, seed: int, workdir: Path):
        self.w, self.seed, self.workdir = w, seed, workdir
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def setup_once(self) -> dict[str, float]:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = sparkstats.start_session(self.workdir)
        t1 = time.perf_counter()
        cores = sparkstats.machine()["cores"]
        # fork one Python worker per core before the first timed call
        self.spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, "id long").collect()
        t2 = time.perf_counter()
        self.inputs = workloads.make_inputs(self.w, self.seed)
        self.df = self.spark.createDataFrame(self.inputs.frame, workloads.SCHEMA)
        t3 = time.perf_counter()
        return {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1,
                "generators.s": t3 - t2, "setup_s": t3 - t0}

    def setup(self) -> dict[str, float]:
        reps = [self.setup_once() for _ in range(SETUP_REPS)]
        self.setup_reps = [r["setup_s"] for r in reps]
        out = {k: median(r[k] for r in reps) for k in reps[0]}
        out["session.jvm_start_s"] = reps[0]["session.start_s"]
        return out

    def plan_call(self):
        return workloads.plan_call(self.spark, self.x0, self.y0, self.inputs.config)

    def fastpath_call(self):
        return workloads.fastpath_call(self.df, self.inputs.config)

    def timed_call(self, call, expected) -> dict:
        """One call: wall and process-tree CPU, then the checks. A call
        that raises or changes the persistent-RDD count fails every pair."""
        rdds = sparkstats.persistent_rdds(self.spark)
        steal0 = proctree.steal_s()
        cpu0 = proctree.tree_cpu()
        t0 = time.perf_counter()
        try:
            rows = call()
        except Exception as exc:  # a failed call is a result, not a crash
            print(f"call failed: {exc!r}", file=sys.stderr)
            rows = None
        wall = time.perf_counter() - t0
        cpu = proctree.diff(proctree.tree_cpu(), cpu0)
        steal = proctree.steal_s() - steal0
        pairs = {k[0] for k in expected}
        if rows is None or sparkstats.persistent_rdds(self.spark) != rdds:
            bad = pairs
        else:
            bad = check.failed_pairs(rows, expected)
        self.attempted += len(pairs)
        self.failed += len(bad)
        return {"wall_s": wall, "cpu": cpu, "steal_s": steal, "failed_frac": len(bad) / len(pairs)}

    def traced_call(self, call, expected, group: str) -> tuple[dict, sparkstats.GroupStats]:
        with sparkstats.job_group(self.spark, group):
            sample = self.timed_call(call, expected)
        return sample, sparkstats.group_stats(self.spark, group)

    def run(self, seconds: float, traced: bool) -> dict[str, float]:
        setup = self.setup()
        expected, oracle_m = check.expected_rows(self.inputs.frame, self.inputs.config)
        self.x0, self.y0 = workloads.pair_arrays(self.inputs.frame, 0)
        exp0 = {k: v for k, v in expected.items() if k[0] == 0}
        own = self.plan_call if self.w.path == "plan" else self.fastpath_call
        own_exp = exp0 if self.w.path == "plan" else expected

        warmup = [self.timed_call(own, own_exp) for _ in range(self.w.warmup_calls)]
        samples = []
        end = time.perf_counter() + seconds
        while len(samples) < MIN_CALLS or time.perf_counter() < end:
            samples.append(self.timed_call(own, own_exp))

        wall = median(s["wall_s"] for s in samples)
        cpu = median(s["cpu"]["total"] for s in samples)
        self.e2e = {"setup_s": setup["setup_s"], "wall_s": wall, "cpu_s": cpu}
        self.failed_frac = max(s["failed_frac"] for s in samples)
        self.samples, self.warmup = samples, warmup
        if not traced:
            return self.e2e

        layers = {k: v for k, v in setup.items() if k != "setup_s"}
        layers.update(oracle_m)
        layers["oracle.cube_entries"] = self.w.pairs * check.cube_entries(self.w.points, self.inputs.config)
        for kind in ("jvm", "worker", "driver"):
            layers[f"process.{kind}_cpu_s"] = median(s["cpu"][kind] for s in samples)

        # on the fleets this is the first plan-path work in the JVM, so it
        # also pays the plan path's warm-up and the probe after it does not
        staged, rows = trace.staged_plan(
            self.spark, self.df.where("pair_id = 0"), self.w.points, self.inputs.config
        )
        self.attempted += 1
        self.failed += len(check.failed_pairs(rows, exp0))
        layers.update(staged)
        plan_s, plan_g = self.traced_call(self.plan_call, exp0, "perfbench.call.plan")
        fast_s, fast_g = self.traced_call(self.fastpath_call, expected, "perfbench.call.fastpath")
        own_s = plan_s if self.w.path == "plan" else fast_s
        layers["trace.overhead_s"] = own_s["wall_s"] - wall
        for f in ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb"):
            layers[f"cross_map.{f}"] = getattr(plan_g, f)
        layers["fastpath.tasks"] = fast_g.tasks
        layers["fastpath.shuffle_write_mb"] = fast_g.shuffle_write_mb
        layers["fastpath.overhead_core_s"] = cpu - oracle_m["oracle.kernel_core_s"]
        layers["fastpath.parallel_efficiency"] = oracle_m["oracle.kernel_core_s"] / (
            wall * sparkstats.machine()["cores"]
        )
        layers["cross_map.staging_overhead_s"] = (
            sum(v for k, v in staged.items() if k.endswith(".wall_s")) - plan_s["wall_s"]
        )
        return layers


def _brief(sample: dict) -> dict:
    return {"wall_s": sample["wall_s"], "cpu_s": sample["cpu"]["total"], "steal_s": sample["steal_s"]}


def _terminate(*_) -> None:
    """A terminated run still stops its JVM and removes its work directory;
    a second signal must not interrupt that clean-up."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGTERM, _terminate)
    workdir = sparkstats.REPO / ".bench_build" / "perfbench" / f"run-{os.getpid()}"
    sparkstats.prepare_env(workdir)
    bench = Bench(workloads.WORKLOADS[args.workload], args.seed, workdir)
    try:
        metrics = bench.run(args.seconds, bool(args.trace))
        env = sparkstats.environment(bench.spark)
        declared = PER_LAYER if args.trace else END_TO_END
        if metrics.keys() != declared.keys():
            raise RuntimeError(f"metrics differ from the declaration: {sorted(metrics.keys() ^ declared.keys())}")
    finally:
        try:
            if bench.spark is not None:
                sparkstats.stop_jvm(bench.spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    print("record " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "setup_reps": bench.setup_reps, "calls": len(bench.samples),
        "warmup": [_brief(s) for s in bench.warmup],
        "samples": [_brief(s) for s in bench.samples],
    }))
    shown = {**bench.e2e, "failed_frac": bench.failed_frac, **metrics}
    for name, value in shown.items():
        print(f"{name} {value:.6g} {UNITS[name]}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
