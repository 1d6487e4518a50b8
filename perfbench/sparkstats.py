"""Session sizing, the run's environment record, and Spark's status store.

The session comes from the program's own ``ccm_spark.session.get_spark``;
the benchmark only sizes it to the machine and keeps every file Spark and
the JVM write inside a work directory of the checkout.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
MiB = 1024 * 1024


def machine() -> dict:
    """Cores this process may run on and a driver heap that fits the host:
    a quarter of physical memory, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        mem_total_kib = int(f.readline().split()[1])
    cores = len(os.sched_getaffinity(0))
    driver_mib = min(4096, mem_total_kib // 1024 // 4)
    return {"cores": cores, "mem_total_mib": mem_total_kib // 1024, "driver_memory_mib": driver_mib}


def prepare_env(workdir: Path) -> None:
    """Environment the JVM and the Python workers inherit: the checkout on
    the workers' import path, their interpreter, and a temp dir of ours.
    Must run before the first session starts the JVM."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{REPO}{os.pathsep}{path}" if path else str(REPO)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = f"{machine()['driver_memory_mib']}m"


def start_session(workdir: Path):
    """``get_spark`` sized to this machine, writing only under ``workdir``."""
    from ccm_spark.session import get_spark

    cores = machine()["cores"]
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(workdir / "local"),
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            # hsperfdata would otherwise go to /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir / 'tmp'} -XX:-UsePerfData",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_sha() -> str:
    """Hash of the program's sources. An export of the tree without
    ``.git`` has no commit to name; this identifies the tree instead."""
    h = hashlib.sha256()
    for p in sorted((REPO / "ccm_spark").rglob("*.py")):
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment(spark) -> dict:
    import numpy
    import pandas
    import pyarrow

    return {
        **machine(),
        "git_sha": git_sha(),
        "source_sha": source_sha(),
        "spark": spark.version,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg": list(os.getloadavg()),
    }


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@contextmanager
def job_group(spark, group: str):
    """Run the enclosed actions under Spark job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@dataclass
class GroupStats:
    """Totals over the completed stages of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    jvm_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def group_stats(spark, group: str) -> GroupStats:
    """Read the status store for every job run under ``group``. Skipped
    stages (shuffle output reused from an earlier job) ran no tasks and are
    not counted. ``spill_mb`` is bytes spilled to disk."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = GroupStats()
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(job)
        stage_ids.update(info.stageIds if info else ())
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            continue
        out.stages += 1
        out.tasks += st.numCompleteTasks()
        out.jvm_cpu_s += st.executorCpuTime() / 1e9
        out.shuffle_write_mb += st.shuffleWriteBytes() / MiB
        out.spill_mb += st.diskBytesSpilled() / MiB
    return out
