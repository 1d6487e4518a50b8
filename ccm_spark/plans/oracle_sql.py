"""DuckDB oracle SQL — the ANSI-SQL mirror of every Spark query in
``__spark_entry__``.

The driver runs each Spark query AND this SQL side-by-side at sf0.01 and
hash-compares values, so the SQL here must reproduce the Spark plan's
numbers to the rounding applied at the query boundary (6 decimals for
derived doubles; integers/strings exactly). The determinism toolkit:

  - the LCG rank key (ccm_spark.rng) evaluates in exact 64-bit integer
    arithmetic in both engines;
  - distances use fixed-order unrolled expressions -> bit-identical IEEE;
  - `round(x, 6) + 0.0` at the boundary absorbs sum-order ulp noise and
    normalises -0.0 (Spark's round never emits -0.0, DuckDB's can);
  - events.ts is ordered at microsecond resolution (DuckDB reads the ns
    parquet type truncated to us; Spark reads ns-as-long and divides).
"""

from __future__ import annotations

from dataclasses import dataclass

from ccm_spark.rng import sql_rank_key_expr


@dataclass(frozen=True)
class CCMQueryParams:
    """Parameters shared by the Spark queries and the oracle SQL."""

    x_event_type: str = "click"
    y_event_type: str = "view"
    n_points: int = 240
    embedding_dim: int = 3
    tau: int = 1
    num_samples: int = 10
    lib_sizes: tuple[int, ...] = (40, 80, 120, 160, 200)
    seed: int = 42
    #: series source: 'events' (testdata prep), 'g1' (logistic-map
    #: recurrence replayed as a recursive CTE; n_points = series length) or
    #: 'g1_fleet' (one G1 pair per coupling in fleet_couplings — the
    #: multi-pair path every 100 TB claim rests on)
    series_source: str = "events"
    g1_coupling: float = 0.15
    fleet_couplings: tuple[float, ...] = ()


PARAMS = CCMQueryParams()

#: the flagship-on-generated-data configuration: CCM over the reference's
#: own golden-test dynamics (G1, length 300, coupling 0.15)
G1_PARAMS = CCMQueryParams(
    n_points=300, series_source="g1", lib_sizes=(30, 80, 130, 180, 230, 280)
)

#: multi-pair fleet gate configuration: 4 G1 pairs spanning the reference's
#: coupling spectrum (none -> strong), small ladder so the DuckDB replay
#: stays cheap at gate time. pair_id i runs coupling fleet_couplings[i].
FLEET_PARAMS = CCMQueryParams(
    n_points=120,
    series_source="g1_fleet",
    fleet_couplings=(0.0, 0.05, 0.15, 0.4),
    lib_sizes=(30, 60, 90),
    num_samples=5,
)


def _series_ctes(p: CCMQueryParams) -> str:
    if p.series_source == "g1_fleet":
        # one recursive branch per pair: the base relation seeds every pair
        # and the recursion advances them all in lockstep, carrying each
        # pair's coupling alongside its state — bit-identical to the numpy
        # recurrence because the update expression is the same fixed-order
        # IEEE arithmetic
        pairs = ", ".join(
            f"({i}, {c!r})" for i, c in enumerate(p.fleet_couplings)
        )
        return f"""
gser(pair_id, coupling, t, x, y) AS (
  SELECT CAST(v.pair_id AS BIGINT), CAST(v.coupling AS DOUBLE), 0 AS t,
         CAST(0.1 AS DOUBLE) AS x, CAST(0.2 AS DOUBLE) AS y
  FROM (VALUES {pairs}) AS v(pair_id, coupling)
  UNION ALL
  SELECT pair_id, coupling, t + 1,
         GREATEST(0.0, LEAST(1.0, 3.7 * x * (1.0 - x) + coupling * (y - x))),
         GREATEST(0.0, LEAST(1.0, 3.6 * y * (1.0 - y)))
  FROM gser WHERE t < {p.n_points}
),
series AS (SELECT pair_id, CAST(t AS BIGINT) AS t, x, y FROM gser)"""
    if p.series_source == "g1":
        # G1 recurrence (reference lib/coupled_logistic_maps_generator.ex:
        # 6-27) replayed bit-identically; run(length) emits length+1 points
        return f"""
gser(t, x, y) AS (
  SELECT 0 AS t, CAST(0.1 AS DOUBLE) AS x, CAST(0.2 AS DOUBLE) AS y
  UNION ALL
  SELECT t + 1,
         GREATEST(0.0, LEAST(1.0, 3.7 * x * (1.0 - x) + {p.g1_coupling} * (y - x))),
         GREATEST(0.0, LEAST(1.0, 3.6 * y * (1.0 - y)))
  FROM gser WHERE t < {p.n_points}
),
series AS (SELECT CAST(0 AS BIGINT) AS pair_id, CAST(t AS BIGINT) AS t, x, y FROM gser)"""
    return f"""
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY epoch_us(ts), event_id) - 1 AS t
  FROM events
  WHERE event_type IN ('{p.x_event_type}', '{p.y_event_type}')
),
series AS (
  SELECT CAST(0 AS BIGINT) AS pair_id, xs.t AS t, xs.value AS x, ys.value AS y
  FROM (SELECT t, value FROM ranked WHERE event_type = '{p.x_event_type}' AND t < {p.n_points}) xs
  JOIN (SELECT t, value FROM ranked WHERE event_type = '{p.y_event_type}' AND t < {p.n_points}) ys
  USING (t)
)"""


def _embed_select(p: CCMQueryParams, dir_id: int) -> str:
    source, target = ("y", "x") if dir_id == 0 else ("x", "y")
    lines = [f"SELECT pair_id, {dir_id} AS dir_id, t AS p"]
    for j in range(p.embedding_dim):
        if j == 0:
            lines.append(f", {source} AS e0")
        else:
            lines.append(f", lead({source}, {j * p.tau}) OVER w AS e{j}")
    shift = (p.embedding_dim - 1) * p.tau
    tgt = target if shift == 0 else f"lead({target}, {shift}) OVER w"
    lines.append(f", {tgt} AS tgt")
    lines.append("FROM series WINDOW w AS (PARTITION BY pair_id ORDER BY t)")
    return "\n  ".join(lines)


def _emb_cte(p: CCMQueryParams) -> str:
    last = f"e{p.embedding_dim - 1}"
    return f"""
emb AS (
  SELECT * FROM ({_embed_select(p, 0)}) d0 WHERE {last} IS NOT NULL AND tgt IS NOT NULL
  UNION ALL
  SELECT * FROM ({_embed_select(p, 1)}) d1 WHERE {last} IS NOT NULL AND tgt IS NOT NULL
)"""


def _fanned_cte(p: CCMQueryParams) -> str:
    values = ", ".join(f"({ls})" for ls in p.lib_sizes)
    key = sql_rank_key_expr("e.p", "s.sample_id", "d.lib_size", "e.dir_id", p.seed)
    return f"""
libs_dim AS (SELECT CAST(lib_size AS INT) AS lib_size FROM (VALUES {values}) AS v(lib_size)),
samples_dim AS (SELECT CAST(g.generate_series AS INT) AS sample_id
                FROM generate_series(0, {p.num_samples - 1}) g),
fanned AS (
  SELECT e.*, d.lib_size, s.sample_id,
         row_number() OVER (PARTITION BY e.pair_id, e.dir_id, d.lib_size, s.sample_id
                            ORDER BY {key}, e.p) AS rnk
  FROM emb e CROSS JOIN libs_dim d CROSS JOIN samples_dim s
)"""


def _dist_expr(p: CCMQueryParams) -> str:
    terms = " + ".join(
        f"(pr.e{j} - l.e{j}) * (pr.e{j} - l.e{j})" for j in range(p.embedding_dim)
    )
    return f"sqrt({terms})"


def _knn_ctes(p: CCMQueryParams) -> str:
    k = p.embedding_dim + 1
    return f"""
cand AS (
  SELECT pr.pair_id, pr.dir_id, pr.lib_size, pr.sample_id,
         pr.p AS q_p, pr.tgt AS actual, l.p AS l_p, l.tgt AS l_tgt,
         {_dist_expr(p)} AS dist
  FROM (SELECT * FROM fanned WHERE rnk > lib_size) pr
  JOIN (SELECT * FROM fanned WHERE rnk <= lib_size) l
  USING (pair_id, dir_id, lib_size, sample_id)
),
nn AS (
  SELECT * FROM (
    SELECT c.*, row_number() OVER (PARTITION BY pair_id, dir_id, lib_size, sample_id, q_p
                                   ORDER BY dist, l_p) AS nn_rank
    FROM cand c
  ) r WHERE nn_rank <= LEAST({k}, lib_size)
)"""


def _prediction_ctes() -> str:
    return """
w1 AS (
  SELECT *, MIN(dist) OVER (PARTITION BY pair_id, dir_id, lib_size, sample_id, q_p) AS min_dist
  FROM nn
),
w2 AS (
  SELECT *, CASE WHEN dist < 1e-12 THEN 1.0
                 ELSE exp(-dist / (min_dist + 1e-8)) END AS weight
  FROM w1
),
pred AS (
  SELECT pair_id, dir_id, lib_size, sample_id, q_p,
         MIN(actual) AS actual,
         CASE WHEN SUM(weight) = 0 THEN 0.0
              ELSE SUM(weight * l_tgt) / SUM(weight) END AS predicted
  FROM w2 GROUP BY 1, 2, 3, 4, 5
)"""


def _corr_cte() -> str:
    # VAR_EPS = 1e-9, identical to ccm_spark.operators.stats.VAR_EPS
    return """
corr AS (
  SELECT pair_id, dir_id, lib_size, sample_id,
         CASE WHEN cnt < 2
                   OR va <= 1e-9 * GREATEST(saa, 1.0)
                   OR vp <= 1e-9 * GREATEST(spp, 1.0) THEN 0.0
              ELSE (cnt * sap - sa * sp) / (sqrt(va) * sqrt(vp)) END AS corr
  FROM (
    SELECT pair_id, dir_id, lib_size, sample_id,
           CAST(COUNT(*) AS DOUBLE) AS cnt,
           SUM(actual) AS sa, SUM(predicted) AS sp,
           SUM(actual * actual) AS saa, SUM(predicted * predicted) AS spp,
           SUM(actual * predicted) AS sap,
           CAST(COUNT(*) AS DOUBLE) * SUM(actual * actual) - SUM(actual) * SUM(actual) AS va,
           CAST(COUNT(*) AS DOUBLE) * SUM(predicted * predicted) - SUM(predicted) * SUM(predicted) AS vp
    FROM pred GROUP BY 1, 2, 3, 4
  ) sums
)"""


def _skill_ctes(p: CCMQueryParams) -> str:
    # the (pair x dir x lib_size) grid reinstates fully-degenerate
    # combinations as 0.0 (R2); pair ids come from the series itself so the
    # same CTE serves single-pair and fleet configurations
    return f"""
grid AS (
  SELECT pr.pair_id, d.dir_id, l.lib_size
  FROM (SELECT DISTINCT pair_id FROM series) pr
  CROSS JOIN libs_dim l
  CROSS JOIN (SELECT CAST(v.dir_id AS INT) AS dir_id FROM (VALUES (0), (1)) AS v(dir_id)) d
),
skill AS (
  SELECT g.pair_id, g.dir_id, g.lib_size,
         COALESCE(SUM(c.corr), 0.0) / {p.num_samples} AS correlation
  FROM grid g LEFT JOIN corr c
    ON g.pair_id = c.pair_id AND g.dir_id = c.dir_id AND g.lib_size = c.lib_size
  GROUP BY 1, 2, 3
)"""


def _conv_cte() -> str:
    return """
conv AS (
  SELECT pair_id, dir_id,
         CASE WHEN cnt < 3 OR den = 0 THEN 0.0 ELSE (cnt * sxy - sx * sy) / den END AS slope,
         CASE WHEN cnt < 3 OR den = 0 THEN FALSE
              ELSE ((cnt * sxy - sx * sy) / den) > 0.001 END AS convergent
  FROM (
    SELECT pair_id, dir_id, CAST(COUNT(*) AS DOUBLE) AS cnt,
           SUM(ls) AS sx, SUM(correlation) AS sy,
           SUM(ls * ls) AS sxx, SUM(ls * correlation) AS sxy,
           CAST(COUNT(*) AS DOUBLE) * SUM(ls * ls) - SUM(ls) * SUM(ls) AS den
    FROM (SELECT pair_id, dir_id, CAST(lib_size AS DOUBLE) AS ls, correlation FROM skill) s
    GROUP BY 1, 2
  ) sums
)"""


DIRECTION_CASE = "CASE WHEN dir_id = 0 THEN 'x_causes_y' ELSE 'y_causes_x' END"


def _with(*ctes: str) -> str:
    # RECURSIVE is required for the G1 series CTE and harmless otherwise
    return "WITH RECURSIVE " + ",".join(ctes)


def ccm_pipeline_prefix(p: CCMQueryParams = PARAMS, upto: str = "conv") -> str:
    """CTE chain up to and including ``upto``."""
    order = [
        ("series", _series_ctes(p)),
        ("emb", _emb_cte(p)),
        ("fanned", _fanned_cte(p)),
        ("knn", _knn_ctes(p)),
        ("prediction", _prediction_ctes()),
        ("corr", _corr_cte()),
        ("skill", _skill_ctes(p)),
        ("conv", _conv_cte()),
    ]
    ctes = []
    for name, sql in order:
        ctes.append(sql)
        if name == upto:
            break
    return _with(*ctes)


def sql_ccm_embedding(p: CCMQueryParams = PARAMS) -> str:
    e_cols = ", ".join(f"e{j}" for j in range(p.embedding_dim))
    return (
        ccm_pipeline_prefix(p, "emb")
        + f"\nSELECT dir_id, p, {e_cols}, tgt FROM emb"
    )


def sql_ccm_lib_ladder(p: CCMQueryParams = PARAMS) -> str:
    shift = (p.embedding_dim - 1) * p.tau
    # DuckDB 1.0's generate_series cannot take lateral column args; the
    # scalar range() list function + unnest does the same job.
    return (
        _with(_series_ctes(p))
        + f""",
counts AS (SELECT pair_id, CAST(COUNT(*) - {shift} AS BIGINT) AS maxl FROM series GROUP BY 1),
ladders AS (
  SELECT pair_id,
         CASE WHEN maxl < 10 THEN [maxl]
              ELSE range(GREATEST(maxl // 10, 5), maxl + 1, GREATEST(2, maxl // 20)) END AS ladder
  FROM counts
)
SELECT pair_id, CAST(unnest(ladder) AS INT) AS lib_size FROM ladders"""
    )


def sql_ccm_bidirectional(p: CCMQueryParams = PARAMS) -> str:
    return (
        ccm_pipeline_prefix(p, "conv")
        + f"""
SELECT {DIRECTION_CASE.replace('dir_id', 's.dir_id')} AS direction,
       s.lib_size,
       round(s.correlation, 6) + 0.0 AS correlation,
       round(c.slope, 6) + 0.0 AS slope,
       c.convergent
FROM skill s JOIN conv c ON s.pair_id = c.pair_id AND s.dir_id = c.dir_id"""
    )


def sql_ccm_fleet(p: CCMQueryParams = FLEET_PARAMS) -> str:
    """Multi-pair bidirectional CCM — the fleet gate. One row per
    (pair_id, direction, lib_size); identical SQL serves the pure-DataFrame
    plan, the applyInPandas fast path, and the bucketed mapInPandas path,
    so a green row pins all three to each other AND to DuckDB."""
    return (
        ccm_pipeline_prefix(p, "conv")
        + f"""
SELECT s.pair_id,
       {DIRECTION_CASE.replace('dir_id', 's.dir_id')} AS direction,
       s.lib_size,
       round(s.correlation, 6) + 0.0 AS correlation,
       round(c.slope, 6) + 0.0 AS slope,
       c.convergent
FROM skill s JOIN conv c ON s.pair_id = c.pair_id AND s.dir_id = c.dir_id"""
    )


def sql_ccm_config_ladder(ns: tuple[int, ...] = (8, 9, 25, 50, 120, 301, 1000)) -> str:
    """C1 resolved defaults + C2 ladder per candidate length (reference
    lib/ccm.ex:26-42,86-97) — both engines derive max_lib_size and the
    ladder arithmetic independently; nothing is a pasted literal except the
    candidate n_points values themselves."""
    values = ", ".join(f"({n})" for n in ns)
    return f"""
WITH ns AS (SELECT CAST(n_points AS INT) AS n_points FROM (VALUES {values}) AS v(n_points)),
cfg AS (SELECT n_points, n_points - (3 - 1) * 1 AS maxl FROM ns),
ladders AS (
  SELECT n_points, maxl,
         CASE WHEN maxl < 10 THEN [maxl]
              ELSE range(GREATEST(maxl // 10, 5), maxl + 1, GREATEST(2, maxl // 20)) END AS ladder
  FROM cfg
)
SELECT n_points,
       CAST(3 AS INT) AS embedding_dim,
       CAST(1 AS INT) AS tau,
       CAST(100 AS INT) AS num_samples,
       CAST(maxl AS INT) AS max_lib_size,
       CAST(unnest(ladder) AS INT) AS lib_size
FROM ladders"""
