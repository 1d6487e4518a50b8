"""The CCM workloads: inputs made from the seed, and the calls timed.

Sizes are scaled down from the reference shapes so that one run, with its
set-up and warm-up calls, takes about a minute on a 4-core machine;
README.md gives the reference shapes, why each workload exists and how
the warm-up counts were chosen.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ccm_spark import CCM, CCMConfig
from ccm_spark.fastpath import ccm_apply_in_pandas
from ccm_spark.generators import coupled_series

SCHEMA = "pair_id long, t long, x double, y double"


@dataclass(frozen=True)
class Workload:
    name: str
    pairs: int
    points: int
    num_samples: int  # on the auto ladder of library sizes
    path: str  # "plan" (Catalyst) or "fastpath" (applyInPandas)
    warmup_calls: int  # untimed calls before the measured ones


WORKLOADS = {
    w.name: w
    for w in (
        Workload("plan_golden", pairs=1, points=301, num_samples=3, path="plan", warmup_calls=3),
        Workload("fleet_long", pairs=16, points=301, num_samples=8, path="fastpath", warmup_calls=1),
    )
}


@dataclass(frozen=True)
class Inputs:
    frame: pd.DataFrame  # (pair_id, t, x, y), the only thing the program sees
    config: CCMConfig


def make_inputs(w: Workload, seed: int) -> Inputs:
    """Same seed, same inputs. The seed sets each pair's coupling and noise
    seed, and ``CCMConfig.seed``."""
    rng = np.random.default_rng(seed)
    couplings = rng.uniform(0.05, 0.45, w.pairs)
    noise_seeds = rng.integers(1, 2**31 - 1, w.pairs)
    parts = []
    for pid in range(w.pairs):
        x, y = coupled_series(
            length=w.points - 1, coupling=float(couplings[pid]), seed=int(noise_seeds[pid])
        )
        parts.append(pd.DataFrame({"pair_id": pid, "t": np.arange(w.points), "x": x, "y": y}))
    config = CCMConfig(num_samples=w.num_samples, seed=int(rng.integers(1, 2**31 - 1)))
    return Inputs(pd.concat(parts, ignore_index=True), config)


def pair_arrays(frame: pd.DataFrame, pair_id: int) -> tuple[np.ndarray, np.ndarray]:
    pdf = frame[frame["pair_id"] == pair_id].sort_values("t")
    return pdf["x"].to_numpy(), pdf["y"].to_numpy()


def plan_call(spark, x: np.ndarray, y: np.ndarray, config: CCMConfig):
    """The reference-style single analysis: ``CCM(...).bidirectional_ccm()``
    on one pair, returned as result rows of pair 0. ``bidirectional_ccm``
    reports no slope, so the slope field is None."""
    out = CCM(
        spark, x, y,
        embedding_dim=config.embedding_dim, tau=config.tau,
        num_samples=config.num_samples, seed=config.seed,
    ).bidirectional_ccm()
    return [
        (0, d, int(ls), float(c), None, bool(res["convergent"]))
        for d, res in out.items()
        for ls, c in res["results"]
    ]


def fastpath_call(df, config: CCMConfig):
    """The many-pair screen: ``ccm_apply_in_pandas(df, cfg).collect()``."""
    return [tuple(r) for r in ccm_apply_in_pandas(df, config).collect()]
