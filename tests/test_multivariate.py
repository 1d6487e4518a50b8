"""Block (multivariate) cross mapping: bit-exact reduction to the
univariate kernel, and value from added observables."""

from __future__ import annotations

import pytest

from ccm_spark import oracle
from ccm_spark.config import CCMConfig
from ccm_spark.generators import coupled_series
from ccm_spark.multivariate import block_cross_map


def test_single_column_block_reduces_to_univariate(spark):
    """embed_cols=['y'] must reproduce oracle.cross_map(x, y,
    'x_causes_y') bit-for-bit — ladder, samples, slope, verdict."""
    x, y = coupled_series(length=150, coupling=0.4, noise_level=0.02, seed=7)
    cfg = CCMConfig(num_samples=8, seed=5)
    res = block_cross_map(spark, {"x": x, "y": y}, "x", ["y"], cfg)
    want = oracle.cross_map(x, y, cfg, "x_causes_y")
    assert res["results"] == [(int(a), float(b)) for a, b in want["results"]]
    assert res["slope"] == want["slope"]
    assert res["convergent"] == want["convergent"]
    assert res["effective_dim"] == cfg.embedding_dim
    # deterministic
    assert block_cross_map(spark, {"x": x, "y": y}, "x", ["y"], cfg) == res


def test_added_observable_improves_skill(spark):
    """A block manifold that also carries the target's own lags recovers
    the target better than the single-observable manifold — the point of
    generalized embeddings."""
    x, y = coupled_series(length=150, coupling=0.3, noise_level=0.05, seed=11)
    cfg = CCMConfig(num_samples=8, seed=5)
    uni = block_cross_map(spark, {"x": x, "y": y}, "x", ["y"], cfg)
    multi = block_cross_map(spark, {"x": x, "y": y}, "x", ["y", "x"], cfg)
    assert multi["effective_dim"] == 2 * cfg.embedding_dim
    assert multi["results"][-1][1] > uni["results"][-1][1]


def test_block_long_series_beyond_dist_precompute(spark):
    """A block whose embedding exceeds PRECOMPUTE_DIST_MAX_P rows must take
    the per-sample-distance fallback (the (P x P) matrix would not fit),
    not crash — and match a driver-side cross_map_sample replay bit-exact.
    Regression: the block path used to pass dist=None straight into
    cross_map_lib_batch, which unconditionally subscripts it."""
    import numpy as np

    n = oracle.PRECOMPUTE_DIST_MAX_P + 150
    x, y = coupled_series(length=n, coupling=0.4, noise_level=0.02, seed=13)
    cfg = CCMConfig(num_samples=2, lib_sizes=[50, 100], seed=9)
    res = block_cross_map(spark, {"x": x, "y": y}, "x", ["y"], cfg)
    emb = oracle.block_embedding([np.asarray(y)], cfg.embedding_dim, cfg.tau)
    tgt = oracle.adjusted_target(np.asarray(x), cfg.embedding_dim, cfg.tau)
    assert emb.shape[0] > oracle.PRECOMPUTE_DIST_MAX_P
    want = []
    for lib in cfg.lib_sizes:
        corrs = [
            oracle.cross_map_sample(
                emb, tgt, lib, s, 0, cfg.seed, cfg.embedding_dim,
                dist_matrix=None,
            )
            for s in range(cfg.num_samples)
        ]
        want.append((lib, float(np.sum(corrs) / cfg.num_samples)))
    assert res["results"] == want


def test_block_validation_errors(spark):
    x, y = coupled_series(length=60, coupling=0.3, noise_level=0.02, seed=3)
    with pytest.raises(ValueError, match="unknown target"):
        block_cross_map(spark, {"x": x, "y": y}, "z", ["y"])
    with pytest.raises(ValueError, match="unknown embed"):
        block_cross_map(spark, {"x": x, "y": y}, "x", ["w"])
    with pytest.raises(ValueError, match="non-empty"):
        block_cross_map(spark, {"x": x, "y": y}, "x", [])
    with pytest.raises(ValueError, match="unequal"):
        block_cross_map(spark, {"x": x, "y": y[:-1]}, "x", ["y"])


def test_multiview_ensemble_structure_and_value(spark):
    """Multiview: lag-0 rule respected, deterministic, the top-sqrt(n)
    ensemble at least matches the best single view on a noisy series
    (the Ye & Sugihara 2016 claim), and forecasting skill is high on
    predictable dynamics."""
    from ccm_spark.multivariate import multiview_forecast

    x, y = coupled_series(length=120, coupling=0.4, noise_level=0.05, seed=11)
    r = multiview_forecast(spark, {"x": x, "y": y}, "y", view_dim=3, max_lag=3)
    # pool = 6 coords; C(6,3)=20 minus 4 all-lagged views = 16; top_k=4
    assert r["n_views"] == 16 and r["top_k"] == 4
    for view in r["views"]:
        assert any(lag == 0 for _, lag in view)
    assert r["ensemble_skill"] > 0.95
    assert r["ensemble_skill"] >= r["best_single_view_skill"]
    assert multiview_forecast(
        spark, {"x": x, "y": y}, "y", view_dim=3, max_lag=3
    ) == r


def test_multiview_rank_skill_pins_kernel(spark):
    import numpy as np

    from ccm_spark import oracle
    from ccm_spark.multivariate import multiview_forecast

    x, y = coupled_series(length=100, coupling=0.3, noise_level=0.03, seed=5)
    r = multiview_forecast(
        spark, {"x": x, "y": y}, "y", view_dim=2, max_lag=2, top_k=1
    )
    # replay the TOP view's rank skill driver-side
    (view,) = r["views"]
    series = {"x": np.asarray(x), "y": np.asarray(y)}
    shift, p = 1, len(x) - 2
    emb = np.column_stack(
        [series[c][shift - lag : shift - lag + p] for c, lag in view]
    )
    target = series["y"][shift + 1 : shift + 1 + p]
    lib = p // 2
    loo = oracle.simplex_point_predictions(
        emb[:lib], target[:lib], emb[:lib], exclude_self=True
    )
    want = oracle.pearson(target[:lib], loo)
    assert abs(r["rank_skills"][0] - want) < 1e-12


def test_multiview_validation(spark):
    x, y = coupled_series(length=100, coupling=0.3, noise_level=0.03, seed=5)
    from ccm_spark.multivariate import multiview_forecast

    with pytest.raises(ValueError, match="unknown column"):
        multiview_forecast(spark, {"x": x, "y": y}, "z")
    with pytest.raises(ValueError, match="max_views"):
        multiview_forecast(
            spark, {"x": x, "y": y}, "y", view_dim=3, max_lag=6, max_views=10
        )


def test_smap_interactions_linear_system_recovers_constants(spark):
    """A linear stochastic system has CONSTANT partials: every per-time
    coefficient must sit at the true values regardless of theta."""
    import numpy as np

    from ccm_spark.multivariate import smap_interactions

    rng = np.random.default_rng(5)
    n = 120
    a = rng.normal(size=n)
    b = rng.normal(size=n)
    tgt = np.empty(n)
    tgt[0] = 0.0
    # target(t+1) = 0.5*a(t) - 0.3*b(t) + 0.1 (noise-free linear map)
    for t in range(n - 1):
        tgt[t + 1] = 0.5 * a[t] - 0.3 * b[t] + 0.1
    out = smap_interactions(
        spark, {"a": a, "b": b, "y": tgt}, "y", ["a", "b"], theta=2.0
    ).collect()
    by_term: dict = {}
    for r in out:
        by_term.setdefault(r.term, []).append(r.coefficient)
    assert len(by_term["a"]) == n - 1
    for v in by_term["a"]:
        assert abs(v - 0.5) < 1e-6
    for v in by_term["b"]:
        assert abs(v - (-0.3)) < 1e-6
    for v in by_term["intercept"]:
        assert abs(v - 0.1) < 1e-6


def test_smap_interactions_tracks_state_dependent_coupling(spark):
    """The Deyle et al. readout on G2: predicting y(t+1) from (x, y)(t),
    the x coefficient hovers at the true coupling c (∂y'/∂x = c) while
    the y coefficient is state-DEPENDENT (∂y'/∂y = r_y(1-2y) - c) —
    and matches that analytic partial pointwise. Rows bit-match the
    driver kernel."""
    import numpy as np

    from ccm_spark import oracle
    from ccm_spark.generators import coupled_series
    from ccm_spark.multivariate import smap_interactions

    c, r_y = 0.4, 3.6
    x, y = coupled_series(length=300, coupling=c, noise_level=0.0, seed=7)
    out = smap_interactions(
        spark, {"x": x, "y": y}, "y", ["x", "y"], theta=8.0
    ).collect()
    coefs: dict = {}
    for r in out:
        coefs.setdefault(r.term, {})[r.t] = r.coefficient
    xs = np.array([coefs["x"][t] for t in sorted(coefs["x"])])
    ys = np.array([coefs["y"][t] for t in sorted(coefs["y"])])
    # the x partial is c = 0.4 where the map does not clamp; the
    # regression estimate recovers its sign and scale but blurs toward
    # zero (clamped transitions have zero true partial, and x/y are
    # correlated regressors on a 1-D attractor) — measured 0.34 +- 0.1
    assert 0.2 < xs.mean() < 0.5
    assert xs.std() < ys.std() / 3            # x partial ~constant vs y's
    analytic = r_y * (1.0 - 2.0 * y[:-1]) - c  # state-dependent partial
    corr = np.corrcoef(ys, analytic)[0, 1]
    assert corr > 0.95                        # tracks the true Jacobian
    assert ys.std() > 0.5                     # genuinely time-varying
    # distributed rows == driver kernel
    emb = np.column_stack([x[:-1], y[:-1]])
    want = oracle.smap_coefficients(emb, y[1:], 8.0)
    for row, t in enumerate(range(len(x) - 1)):
        assert coefs["intercept"][t] == want[row, 0]
        assert coefs["x"][t] == want[row, 1]
        assert coefs["y"][t] == want[row, 2]


def test_multispatial_single_replicate_reduces_to_cross_map(spark):
    """One replicate == plain CCM on that series, bit-for-bit — ladder,
    skills, slope, verdict."""
    import pandas as pd

    from ccm_spark.multivariate import multispatial_ccm

    x, y = coupled_series(length=120, coupling=0.4, noise_level=0.02, seed=7)
    df = spark.createDataFrame(
        pd.DataFrame({"replicate_id": 0, "t": range(len(x)), "x": x, "y": y}),
        "replicate_id long, t long, x double, y double",
    )
    cfg = CCMConfig(num_samples=8, seed=5)
    res = multispatial_ccm(spark, df, cfg)
    want = oracle.cross_map(x, y, cfg, "x_causes_y")
    assert res["results"] == [(int(a), float(b)) for a, b in want["results"]]
    assert res["slope"] == want["slope"]
    assert res["convergent"] == want["convergent"]
    assert res["n_replicates"] == 1 and res["n_dropped"] == 0


def test_multispatial_detects_coupling_from_short_replicates(spark):
    """The Clark et al. claim: 12 replicates of 25 points each — far too
    short individually (the ladder barely exists) — pooled into one
    library recover the causal verdict; pooling matches a driver-side
    kernel replay bit-for-bit; too-short replicates are dropped."""
    import numpy as np
    import pandas as pd

    from ccm_spark.multivariate import multispatial_ccm

    frames = []
    for rep in range(12):
        x, y = coupled_series(
            length=24, coupling=0.6, noise_level=0.02,
            x0=0.2 + 0.05 * rep, y0=0.7 - 0.04 * rep, seed=100 + rep,
        )
        frames.append(
            pd.DataFrame({"replicate_id": rep, "t": range(len(x)), "x": x, "y": y})
        )
    # one 3-point runt: dropped, not fatal
    frames.append(
        pd.DataFrame({"replicate_id": 99, "t": [0, 1, 2], "x": [0.1, 0.2, 0.3],
                      "y": [0.4, 0.5, 0.6]})
    )
    df = spark.createDataFrame(
        pd.concat(frames), "replicate_id long, t long, x double, y double"
    )
    cfg = CCMConfig(num_samples=8, seed=5, lib_sizes=[50, 120, 200])
    res = multispatial_ccm(spark, df, cfg)
    assert res["n_replicates"] == 12 and res["n_dropped"] == 1
    assert res["pooled_points"] == 12 * 23  # 25 points -> 23 embedding rows
    skills = dict(res["results"])
    # skill rises with pooled library size and ends high — the
    # convergence evidence (the binary R3 flag uses an absolute
    # per-lib-unit slope threshold that dilutes on pooled ladders; see
    # the docstring caveat)
    assert skills[50] < skills[120] < skills[200]
    assert skills[200] > 0.8
    assert res["slope"] > 0

    # driver replay: same pooled arrays through the same kernel
    embs, tgts = [], []
    for rep in range(12):
        x, y = coupled_series(
            length=24, coupling=0.6, noise_level=0.02,
            x0=0.2 + 0.05 * rep, y0=0.7 - 0.04 * rep, seed=100 + rep,
        )
        embs.append(oracle.time_delay_embedding(np.asarray(y), cfg.embedding_dim, cfg.tau))
        tgts.append(oracle.adjusted_target(np.asarray(x), cfg.embedding_dim, cfg.tau))
    emb, tgt = np.vstack(embs), np.concatenate(tgts)
    index = oracle.knn_index(emb)
    for lib, skill in res["results"]:
        corrs = oracle.cross_map_lib_batch(
            index, tgt, lib, cfg.num_samples, 0, cfg.seed, cfg.embedding_dim
        )
        assert skill == float(np.sum(corrs) / cfg.num_samples)
    with pytest.raises(ValueError, match="max_points"):
        multispatial_ccm(spark, df, cfg, max_points=10)


def test_smap_interactions_fleet_matches_single_pair(spark):
    """Fleet Jacobian tracking: per-pair rows bit-match the single-pair
    operator; runts are dropped, not fatal."""
    import numpy as np
    import pandas as pd

    from ccm_spark.generators import coupled_series
    from ccm_spark.multivariate import smap_interactions, smap_interactions_fleet

    frames, pairs = [], {}
    for pid, seed in [(0, 7), (1, 23)]:
        x, y = coupled_series(length=120, coupling=0.4, noise_level=0.02, seed=seed)
        pairs[pid] = (x, y)
        frames.append(
            pd.DataFrame({"pair_id": pid, "t": range(len(x)), "x": x, "y": y})
        )
    frames.append(
        pd.DataFrame({"pair_id": 9, "t": range(5), "x": [0.1] * 5, "y": [0.2] * 5})
    )
    df = spark.createDataFrame(
        pd.concat(frames), "pair_id long, t long, x double, y double"
    )
    out = {}
    for r in smap_interactions_fleet(df, theta=3.0).collect():
        out.setdefault(r.pair_id, {})[(r.t, r.term)] = r.coefficient
    assert set(out) == {0, 1}
    for pid, (x, y) in pairs.items():
        single = {
            (r.t, r.term): r.coefficient
            for r in smap_interactions(
                spark, {"x": np.asarray(x), "y": np.asarray(y)}, "y", ["x", "y"],
                theta=3.0,
            ).collect()
        }
        assert out[pid] == single, pid
