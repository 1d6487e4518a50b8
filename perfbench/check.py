"""Expected rows from the numpy oracle, and the row-by-row check.

The oracle runs single-threaded in the driver, outside every timed region.
Its calls are timed from outside (the module's functions are wrapped for
the duration), which gives the ``oracle.*`` layer metrics for free.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np

from ccm_spark import oracle

TOL = 1e-9

# (pair_id, direction, lib_size) -> (correlation, slope, convergent)
Expected = dict[tuple[int, str, int], tuple[float, float, bool]]


@contextmanager
def _timed(module, name: str, acc: dict[str, float]):
    """Accumulate wall seconds spent in ``module.name`` while active."""
    orig = getattr(module, name)

    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            acc[name] = acc.get(name, 0.0) + time.perf_counter() - t0

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, orig)


def cube_entries(points: int, config) -> int:
    """Entries of the (samples x queries x library) distance cube the
    kernel ranks, both directions: the kNN work as a count."""
    p = points - (config.embedding_dim - 1) * config.tau
    rungs = [ls for ls in config.resolved_lib_sizes(points) if ls < p and p - ls >= 2]
    return 2 * config.num_samples * sum(ls * (p - ls) for ls in rungs)


def expected_rows(frame, config) -> tuple[Expected, dict[str, float]]:
    """Oracle rows for every pair, plus per-pair layer timings: wall seconds
    per pair in ``cross_map`` (both directions), ``_pairwise_distances`` and
    ``cross_map_lib_batch``, and the kernel's total thread CPU seconds."""
    exp: Expected = {}
    acc: dict[str, float] = {}
    walls = []
    cpu = 0.0
    with _timed(oracle, "_pairwise_distances", acc), _timed(oracle, "cross_map_lib_batch", acc):
        for pid, pdf in frame.groupby("pair_id", sort=True):
            pdf = pdf.sort_values("t")
            x, y = pdf["x"].to_numpy(np.float64), pdf["y"].to_numpy(np.float64)
            c0, t0 = time.thread_time(), time.perf_counter()
            res = oracle.bidirectional_ccm(x, y, config)
            walls.append(time.perf_counter() - t0)
            cpu += time.thread_time() - c0
            for d, r in res.items():
                for ls, c in r["results"]:
                    exp[(int(pid), d, int(ls))] = (c, r["slope"], r["convergent"])
    n = len(walls)
    return exp, {
        "oracle.cross_map_s": float(np.median(walls)),
        "oracle.pairwise_distances_s": acc["_pairwise_distances"] / n,
        "oracle.cross_map_lib_batch_s": acc["cross_map_lib_batch"] / n,
        "oracle.kernel_core_s": cpu,
    }


def failed_pairs(rows, expected: Expected) -> set[int]:
    """Pairs whose rows differ from the oracle: a missing, extra or
    duplicated (pair, direction, lib_size) row, ``convergent`` not equal,
    or ``correlation``/``slope`` off by more than 1e-9. A slope of None
    (an API that does not report it) is not compared."""
    bad: set[int] = set()
    seen: set[tuple[int, str, int]] = set()
    for pid, d, ls, corr, slope, conv in rows:
        key = (int(pid), d, int(ls))
        want = expected.get(key)
        if (
            want is None
            or key in seen
            or bool(conv) != bool(want[2])
            or not abs(corr - want[0]) <= TOL
            or (slope is not None and not abs(slope - want[1]) <= TOL)
        ):
            bad.add(key[0])
        seen.add(key)
    bad.update(k[0] for k in expected.keys() - seen)
    return bad
