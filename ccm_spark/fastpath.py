"""Vectorised per-pair CCM fast path (SURVEY.md §7.1 step 6).

``ccm_apply_in_pandas`` shuffles the series once by ``pair_id`` and runs the
entire bootstrap sweep for each pair as vectorised numpy inside one task
(the :mod:`ccm_spark.oracle` kernel — the same code the unit tests trust).
Identical results to the pure-DataFrame plan (same seeded LCG sampling),
but the kNN inner loop becomes an in-memory index instead of a shuffle
join: broadcast numpy distances computed once per direction; per
bootstrap sample, a short scan of each query's row in a row order sorted
once per direction (large libraries) or a sort of each query's few
library distances (small ones) (``oracle.knn_index`` /
``oracle.cross_map_lib_batch``). That wins by a wide margin when each
series is small (thousands of points) and pairs are many — the expected
100 TB regime is millions of pairs scaling linearly across executors
with ONE shuffle total.

The pure-DataFrame plan (plans/cross_map.py) remains the default: it is
the oracle-matching reference path and the right choice when a single
series is too large for one task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ccm_spark.config import CCMConfig
from ccm_spark import oracle

RESULT_SCHEMA = (
    "pair_id long, direction string, lib_size int, correlation double, "
    "slope double, convergent boolean"
)


def ccm_apply_in_pandas(series: DataFrame, config: CCMConfig) -> DataFrame:
    """(pair_id, t, x, y) -> (pair_id, direction, lib_size, correlation,
    slope, convergent), one task per pair."""
    emb_dim, tau = config.embedding_dim, config.tau
    num_samples, seed = config.num_samples, config.seed
    lib_sizes = config.lib_sizes
    radius = config.exclusion_radius

    def run_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        x = pdf["x"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        pair_id = int(pdf["pair_id"].iloc[0])
        cfg = CCMConfig(
            embedding_dim=emb_dim,
            tau=tau,
            num_samples=num_samples,
            lib_sizes=list(lib_sizes) if lib_sizes is not None else None,
            seed=seed,
            exclusion_radius=radius,
        )
        rows = []
        for direction in ("x_causes_y", "y_causes_x"):
            res = oracle.cross_map(x, y, cfg, direction)
            for lib_size, corr in res["results"]:
                rows.append(
                    (
                        pair_id,
                        direction,
                        int(lib_size),
                        float(corr),
                        float(res["slope"]),
                        bool(res["convergent"]),
                    )
                )
        return pd.DataFrame(
            rows,
            columns=[
                "pair_id",
                "direction",
                "lib_size",
                "correlation",
                "slope",
                "convergent",
            ],
        )

    # Pre-partition on pair_id with an explicit count: series data is tiny
    # by bytes but each group costs a full bootstrap sweep, so AQE's
    # byte-based coalescing would fold the groupBy exchange to ONE task and
    # serialise the fleet (observed: 64 pairs x 0.45s kernel = 28.9s wall).
    # The explicit repartition satisfies the groupBy's distribution
    # requirement, is exempt from coalescing, and costs nothing extra — the
    # shuffle was happening anyway. factor=8: each pair is a multi-hundred-
    # millisecond kernel, so tasks must be finer than cores or the worst
    # hash bucket (~4-5 pairs at 64 keys / 32 buckets) sets the wall time.
    from ccm_spark.functions.partitioning import spread

    return (
        spread(series, "pair_id", factor=8)
        .groupBy("pair_id")
        .applyInPandas(run_pair, schema=RESULT_SCHEMA)
    )


def ccm_fast_iterated(
    series: DataFrame, config: CCMConfig, check_clustering: bool = True
) -> DataFrame:
    """mapInPandas variant for pre-partitioned input (series already
    clustered by pair_id within partitions — e.g. bucketed parquet): avoids
    even the groupBy shuffle.

    If a pair's rows span partition boundaries, each partition computes that
    pair from its partial series — silently wrong. ``check_clustering``
    (default on) guards the precondition with two invariants over the tiny
    RESULT relation: (a) no duplicate (pair_id, direction, lib_size) rows
    (fragments with the SAME resolved ladder collide), and (b) one distinct
    (slope, convergent) per (pair_id, direction) — an intact pair computes
    exactly one convergence verdict per direction, while fragments of
    different lengths resolve DIFFERENT auto-ladders (disjoint lib_size
    sets, so (a) alone would miss them) and almost surely different slopes.
    A false negative now needs fragments with disjoint ladders AND
    bit-equal slopes — not a plausible accident. The windows shuffle only
    the few result rows per pair; disable only for maximum-throughput runs
    on layouts already proven clustered (e.g. just written by
    sinks.write_series_bucketed)."""

    emb_dim, tau = config.embedding_dim, config.tau
    num_samples, seed = config.num_samples, config.seed
    lib_sizes = config.lib_sizes
    radius = config.exclusion_radius

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: dict[int, list[pd.DataFrame]] = {}
        for pdf in batches:
            for pid, grp in pdf.groupby("pair_id"):
                buf.setdefault(int(pid), []).append(grp)
        cfg = CCMConfig(
            embedding_dim=emb_dim,
            tau=tau,
            num_samples=num_samples,
            lib_sizes=list(lib_sizes) if lib_sizes is not None else None,
            seed=seed,
            exclusion_radius=radius,
        )
        for pid, parts in buf.items():
            pdf = pd.concat(parts).sort_values("t")
            x = pdf["x"].to_numpy(dtype=np.float64)
            y = pdf["y"].to_numpy(dtype=np.float64)
            rows = []
            for direction in ("x_causes_y", "y_causes_x"):
                res = oracle.cross_map(x, y, cfg, direction)
                for lib_size, corr in res["results"]:
                    rows.append(
                        (pid, direction, int(lib_size), float(corr),
                         float(res["slope"]), bool(res["convergent"]))
                    )
            yield pd.DataFrame(
                rows,
                columns=["pair_id", "direction", "lib_size", "correlation", "slope", "convergent"],
            )

    out = series.mapInPandas(run_partition, schema=RESULT_SCHEMA)
    if check_clustering:
        msg = F.lit(
            "ccm_fast_iterated: inconsistent per-pair results — input rows "
            "span partition boundaries; cluster by pair_id first "
            "(sinks.write_series_bucketed) or use ccm_apply_in_pandas"
        )
        w_row = Window.partitionBy("pair_id", "direction", "lib_size")
        w_dir = Window.partitionBy("pair_id", "direction")
        out = (
            out.withColumn("_n_dup", F.count("*").over(w_row))
            .withColumn(
                "_slope_spread",
                F.max("slope").over(w_dir) - F.min("slope").over(w_dir),
            )
            .withColumn(
                "_conv_mixed",
                F.max(F.col("convergent").cast("int")).over(w_dir)
                != F.min(F.col("convergent").cast("int")).over(w_dir),
            )
            .where(
                F.assert_true(
                    (F.col("_n_dup") == 1)
                    & (F.col("_slope_spread") == 0.0)
                    & ~F.col("_conv_mixed"),
                    msg,
                ).isNull()
            )
            .drop("_n_dup", "_slope_spread", "_conv_mixed")
        )
    return out
