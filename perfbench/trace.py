"""The staged plan run: the Catalyst CCM chain cut at each operator module.

Each layer's output is persisted and counted under its own job group, in
the order ``plans.cross_map.sample_corr_plan`` composes them, so a layer's
wall time, rows and status-store totals are its own. Persisting forces
every column a layer produces; inside the fused plan Catalyst may prune
some, so the staged sum differs from the end-to-end call, and the
difference is reported as ``cross_map.staging_overhead_s``.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.storagelevel import StorageLevel

from ccm_spark.operators.embedding import DIRECTION_NAMES, embed_bidirectional
from ccm_spark.operators.knn import knn_candidates, top_k_neighbors
from ccm_spark.operators.sampling import fan_out_with_rank, lib_sizes_df
from ccm_spark.operators.simplex import simplex_weights, weighted_prediction
from ccm_spark.operators.stats import convergence, pearson_by_sample, skill_by_lib_size

from perfbench.check import cube_entries
from perfbench.sparkstats import group_stats, job_group


def staged_plan(spark, series, points: int, config) -> tuple[dict[str, float], list[tuple]]:
    """Run one pair's plan layer by layer. Returns the layer metrics and
    the result rows (pair_id, direction, lib_size, correlation, slope,
    convergent) for the oracle check. Every persisted relation is released
    before returning."""
    e, tau, s = config.embedding_dim, config.tau, config.num_samples
    persisted = []
    metrics: dict[str, float] = {}

    def stage(layer, df):
        group = f"perfbench.stage.{layer}"
        with job_group(spark, group):
            t0 = time.perf_counter()
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(df)
            rows = df.count()
            metrics[f"{layer}.wall_s"] = time.perf_counter() - t0
        metrics[f"{layer}.rows"] = rows
        return df, group_stats(spark, group)

    try:
        series = series.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(series)
        series.count()
        ladder = lib_sizes_df(series, e, tau)
        emb, _ = stage("embedding", embed_bidirectional(series, e, tau))
        fanned, _ = stage("sampling", fan_out_with_rank(emb, ladder, s, config.seed))
        nn, knn = stage("knn", top_k_neighbors(knn_candidates(fanned, e, config.exclusion_radius), e))
        pred, _ = stage("simplex", weighted_prediction(simplex_weights(nn)))
        dirs = spark.range(2).select(F.col("id").cast("int").alias("dir_id"))
        lib_grid = ladder.crossJoin(F.broadcast(dirs))
        skill, _ = stage("stats", skill_by_lib_size(pearson_by_sample(pred), lib_grid, s))
        with job_group(spark, "perfbench.stage.stats"):
            t0 = time.perf_counter()
            conv = {(r.pair_id, r.dir_id): r for r in convergence(skill).collect()}
            skill_rows = skill.collect()
            metrics["stats.wall_s"] += time.perf_counter() - t0
    finally:
        for df in persisted:
            df.unpersist(blocking=True)
    rows = [
        (r.pair_id, DIRECTION_NAMES[r.dir_id], r.lib_size, r.correlation,
         conv[(r.pair_id, r.dir_id)].slope, conv[(r.pair_id, r.dir_id)].convergent)
        for r in skill_rows
    ]

    # the kNN join pairs every query with every library point: the cube
    # of distances the numpy kernel ranks for the same answer
    pairs = cube_entries(points, config)
    metrics.update({
        "knn.jvm_cpu_s": knn.jvm_cpu_s,
        "knn.candidate_pairs": pairs,
        "knn.kept_ratio": metrics["knn.rows"] / pairs,
        "knn.spill_mb": knn.spill_mb,
        "knn.shuffle_write_mb": knn.shuffle_write_mb,
    })
    return metrics, rows
