"""J1/D1/K1 — brute-force exact kNN as a within-group join + top-k window.

Reference parity: lib/ccm.ex:151-155 (J1 all-pairs distances),
lib/ccm.ex:179-185 (D1 euclidean), lib/ccm.ex:146-160 (K1 take the
k = min(E+1, |library|) nearest — the bounding simplex, README.md:91).

Distance ties break by ascending library point index ``p`` (the reference's
stable sort keeps its unseeded sample order, lib/ccm.ex:159, which cannot be
replayed; ascending-p is the rebuild's deterministic spec, mirrored by the
numpy oracle).

Scale notes:
  - The join key (pair_id, dir_id, lib_size, sample_id) bounds each group's
    cross product at (P-L) x L. The join is a shuffled-hash join (the
    ``shuffle_hash`` hint on the library half, which builds the per-task
    hash table), so neither join input is sorted. It scales to arbitrarily
    many groups, and no group ever exceeds a single series' footprint.
    Caveats: the library half is the larger side once lib_size > P/2, and
    a hash build table cannot spill, so one task must hold its partition's
    library rows in memory.
  - The distance is an unrolled fixed-order codegen expression (no UDF, no
    array allocation in the hot loop).
  - Exact kNN is the oracle-matching default and the right plan when a
    SINGLE series is large (its join groups distribute; no task ever holds
    a whole group). The many-small-pairs regime has the opt-in fast path in
    fastpath.py (per-pair numpy kernel, one shuffle total) — same results,
    no join materialisation. A sub-quadratic single-series index (KD-tree /
    LSH) is deliberately not provided: it would need scipy (absent here)
    or approximate results that break the bit-exact oracle contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

GROUP_KEYS = ["pair_id", "dir_id", "lib_size", "sample_id"]


def distance_expr(embedding_dim: int, q_prefix: str = "q_e", l_prefix: str = "l_e"):
    """D1: sqrt(sum_j (q_ej - l_ej)^2), unrolled in fixed j order so the
    floating-point result is bit-identical across Spark/DuckDB/numpy."""
    acc = None
    for j in range(embedding_dim):
        d = F.col(f"{q_prefix}{j}") - F.col(f"{l_prefix}{j}")
        term = d * d
        acc = term if acc is None else acc + term
    return F.sqrt(acc)


def knn_candidates(
    fanned: DataFrame, embedding_dim: int, exclusion_radius: int = 0
) -> DataFrame:
    """J1: join prediction points against library points within each group.

    ``fanned`` is the output of fan_out_with_rank. Returns one row per
    (query point, library point) with the euclidean distance.

    ``exclusion_radius`` (the Theiler window, rEDM-style — no reference
    analogue; default 0 keeps reference parity bit-for-bit): candidate
    pairs within that many time steps are dropped BEFORE the distance
    ranking, a pushdown-friendly predicate on the join output (Catalyst
    folds it into the join), mirroring the numpy oracle's +inf masking.
    Boundary convention, stated honestly: a query with ZERO admissible
    neighbours has no candidate row here, so it drops out of the
    sample's correlation pairs, while the numpy oracle keeps it with
    prediction 0.0 — the two paths are bit-equal (test-pinned) whenever
    every query retains at least one admissible neighbour, which any
    realistic radius (a few steps vs. library points spread over the
    whole series) guarantees; an all-excluded query needs every one of
    the sample's library points inside +-radius of it.
    """
    e_cols = [f"e{j}" for j in range(embedding_dim)]
    libs = fanned.where(F.col("rank") <= F.col("lib_size")).select(
        *GROUP_KEYS,
        F.col("p").alias("l_p"),
        *[F.col(c).alias(f"l_{c}") for c in e_cols],
        F.col("tgt").alias("l_tgt"),
    )
    preds = fanned.where(F.col("rank") > F.col("lib_size")).select(
        *GROUP_KEYS,
        F.col("p").alias("q_p"),
        *[F.col(c).alias(f"q_{c}") for c in e_cols],
        F.col("tgt").alias("q_tgt"),
    )
    # r16 (guide §3.1): shuffled-hash instead of sort-merge — the join
    # groups are bounded at one series' fan-out ((P-L) x L per group),
    # so the per-partition build table is always safe, and SHJ drops
    # BOTH join-input sorts (at scale: O(n log n) + spill per side).
    # Same rows, same partitioning (the top-k window keeps sharing the
    # join's exchange); the build side is the library half (L rows per
    # group, the larger side once lib_size > P/2; see the scale notes).
    joined = preds.join(libs.hint("shuffle_hash"), GROUP_KEYS)
    if exclusion_radius > 0:
        joined = joined.where(
            F.abs(F.col("q_p") - F.col("l_p")) > exclusion_radius
        )
    return joined.withColumn("dist", distance_expr(embedding_dim))


def top_k_neighbors(candidates: DataFrame, embedding_dim: int) -> DataFrame:
    """K1: keep the k = min(E+1, lib_size) nearest per query point."""
    w = Window.partitionBy(*GROUP_KEYS, "q_p").orderBy(
        F.col("dist").asc(), F.col("l_p").asc()
    )
    k = F.least(F.lit(embedding_dim + 1), F.col("lib_size"))
    return (
        candidates.withColumn("nn_rank", F.row_number().over(w))
        .where(F.col("nn_rank") <= k)
    )
