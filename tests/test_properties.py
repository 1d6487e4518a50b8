"""Property-based tests (hypothesis) for the pure-python kernels — no Spark.

Covers the reference-parity invariants that must hold for ANY input:
the C2 ladder rule (lib/ccm.ex:86-97), the LCG rank determinism/range, the
R1/R3 guard semantics, the sampling split partition property, and the
bit-equality of the batched index-then-scan kernel with the per-sample
argsort kernel.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ccm_spark import oracle
from ccm_spark.config import generate_lib_sizes
from ccm_spark.oracle import library_split, ols_slope, pearson
from ccm_spark.rng import M31, lcg_rank_key


@given(st.integers(min_value=1, max_value=100_000))
def test_ladder_rule(max_lib):
    ladder = generate_lib_sizes(max_lib)
    assert ladder, "ladder never empty"
    assert all(1 <= v <= max_lib for v in ladder)
    if max_lib < 10:
        assert ladder == [max_lib]
    else:
        start = max(max_lib // 10, 5)
        step = max(2, max_lib // 20)
        assert ladder[0] == start
        assert all(b - a == step for a, b in zip(ladder, ladder[1:]))
        # maximal: one more step would exceed max_lib
        assert ladder[-1] + step > max_lib


@given(
    st.integers(min_value=0, max_value=1_000_000),
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=0, max_value=1_000_000),
    st.integers(min_value=0, max_value=1),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_lcg_key_range_and_determinism(idx, sample, lib, dirid, seed):
    k1 = lcg_rank_key(idx, sample, lib, dirid, seed)
    k2 = lcg_rank_key(idx, sample, lib, dirid, seed)
    assert k1 == k2
    assert 0 <= k1 < M31


@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=0, max_value=400),
    st.integers(min_value=0, max_value=50),
    st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=50)
def test_library_split_partitions(p, lib_size, sample_id, seed):
    lib, pred = library_split(p, min(lib_size, p), sample_id, 0, seed)
    assert len(lib) + len(pred) == p
    assert len(set(lib.tolist()) | set(pred.tolist())) == p
    assert len(lib) == min(lib_size, p)


@given(st.lists(st.floats(-1e6, 1e6), min_size=0, max_size=50))
def test_pearson_guards(vals):
    a = np.array(vals)
    # constant second series -> zero variance -> 0.0, never NaN/inf
    r = pearson(a, np.zeros_like(a))
    assert r == 0.0
    if len(a) >= 2:
        r2 = pearson(a, a.copy())
        assert np.isfinite(r2)
        if np.ptp(a) > 1e-3 and np.max(np.abs(a)) < 1e5:
            assert abs(r2 - 1.0) < 1e-6  # perfectly correlated with itself


@given(st.lists(st.floats(-100, 100), min_size=0, max_size=20))
def test_slope_guards(ys):
    y = np.array(ys)
    x = np.arange(len(y), dtype=float)
    slope, convergent = ols_slope(x, y)
    if len(y) < 3:
        assert (slope, convergent) == (0.0, False)
    else:
        assert np.isfinite(slope)
        assert convergent == (slope > 0.001)
    # zero x-variance: guard fires regardless of n
    slope0, conv0 = ols_slope(np.ones(5), np.arange(5.0))
    assert (slope0, conv0) == (0.0, False)


def _series(kind: str, n: int, rng: np.random.Generator) -> np.ndarray:
    if kind == "constant":
        return np.full(n, 1.5)
    if kind == "quantised":  # three levels: heavy distance ties
        return rng.integers(0, 3, n).astype(np.float64)
    return rng.normal(size=n)


def _per_sample_replay(emb, tgt, lib_size, num_samples, dir_id, seed, dim, radius):
    """The argsort reference form: per-sample distances, stable sort."""
    return np.array([
        oracle.cross_map_sample(
            emb, tgt, lib_size, s, dir_id, seed, dim, exclusion_radius=radius
        )
        for s in range(num_samples)
    ])


@st.composite
def _kernel_cases(draw):
    dim = draw(st.integers(min_value=1, max_value=4))
    tau = draw(st.integers(min_value=1, max_value=3))
    p = draw(st.integers(min_value=dim + 3, max_value=60))
    n = p + (dim - 1) * tau
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    kinds = st.sampled_from(["smooth", "quantised", "constant"])
    src, tgt = _series(draw(kinds), n, rng), _series(draw(kinds), n, rng)
    lib_size = draw(st.one_of(
        st.just(dim + 1),  # lib_size == k
        st.just(p - 2),
        st.integers(min_value=1, max_value=p - 2),
    ))
    radius = draw(st.sampled_from([0, 1, p // 2 + 1, p]))  # p: all masked
    return dict(
        emb=oracle.time_delay_embedding(src, dim, tau),
        tgt=oracle.adjusted_target(tgt, dim, tau),
        lib_size=lib_size,
        num_samples=draw(st.integers(min_value=1, max_value=6)),
        dir_id=draw(st.integers(min_value=0, max_value=1)),
        seed=draw(st.integers(min_value=0, max_value=2**31 - 1)),
        dim=dim,
        radius=radius,
        # a sorted index makes every library with L >= the scan window
        # take the scan; an unsorted one mostly takes the library sort
        sorted_index=draw(st.booleans()),
        # 1: one sample per kernel chunk, so the chunks are joined
        scan_entries=draw(st.sampled_from([1, 64, oracle._SCAN_ENTRIES])),
    )


@given(_kernel_cases())
@settings(max_examples=300, deadline=None)
def test_batched_kernel_bit_equals_per_sample_argsort(c):
    index = oracle.knn_index(c["emb"], c["radius"])
    if c["sorted_index"]:
        index.order
    with mock.patch.object(oracle, "_SCAN_ENTRIES", c["scan_entries"]):
        got = oracle.cross_map_lib_batch(
            index, c["tgt"], c["lib_size"], c["num_samples"], c["dir_id"],
            c["seed"], c["dim"],
        )
    want = _per_sample_replay(
        c["emb"], c["tgt"], c["lib_size"], c["num_samples"], c["dir_id"],
        c["seed"], c["dim"], c["radius"],
    )
    np.testing.assert_array_equal(got, want)


def test_batched_kernel_k1_form_follows_cost():
    """K1 scans the sorted index for a dense library and sorts the library
    distances for a sparse one, or while the index order is unbuilt and
    one rung cannot pay for it; every form is bit-equal to the replay."""
    p, seed, dim = 60, 3, 2
    rng = np.random.default_rng(9)
    emb = rng.normal(size=(p, dim))
    tgt = rng.normal(size=p)
    forms = []
    real = {"scan": oracle._first_library_hits, "sort": oracle._nearest_in_library}

    def spy(form):
        def call(*args):
            forms.append(form)
            return real[form](*args)
        return call

    with mock.patch.object(oracle, "_first_library_hits", spy("scan")), \
            mock.patch.object(oracle, "_nearest_in_library", spy("sort")):
        for lib_size, num_samples, sort_first, want_form in (
            (50, 1, False, "sort"),  # 1 sample x 10 queries: sorting P x P costs more
            (50, 1, True, "scan"),   # 50 library points >= a 13-column window
            (5, 4, True, "sort"),    # 5 library points < a 60-column window
            (50, 20, False, "scan"),  # 20 x 10 queries: the sort pays off
        ):
            index = oracle.knn_index(emb)
            if sort_first:
                index.order
            forms.clear()
            got = oracle.cross_map_lib_batch(
                index, tgt, lib_size, num_samples, 0, seed, dim
            )
            assert set(forms) == {want_form}
            want = _per_sample_replay(emb, tgt, lib_size, num_samples, 0, seed, dim, 0)
            np.testing.assert_array_equal(got, want)


def test_batched_kernel_widens_scan_window_repeatedly():
    """Every library point lies far from every prediction point, so each
    query's first (P - L) index columns hold no library hit and the scan
    window has to double more than once; the result stays bit-equal."""
    p, lib_size, seed, dim = 200, 100, 17, 1
    k = dim + 1
    lib, pred = library_split(p, lib_size, 0, 0, seed)
    rng = np.random.default_rng(5)
    src = rng.normal(size=p)
    src[lib] += 1000.0
    emb = oracle.time_delay_embedding(src, dim, 1)
    tgt = rng.normal(size=p)
    index = oracle.knn_index(emb)
    in_lib = np.isin(index.order[pred], lib)  # sorts the index: K1 scans it
    columns_needed = (np.cumsum(in_lib, axis=1) < k).sum(axis=1) + 1
    assert columns_needed.max() > 2 * oracle._scan_width(k, p, lib_size)
    got = oracle.cross_map_lib_batch(index, tgt, lib_size, 1, 0, seed, dim)
    want = _per_sample_replay(emb, tgt, lib_size, 1, 0, seed, dim, 0)
    np.testing.assert_array_equal(got, want)


# --- cross-engine tokenizer parity (the hash-parity spine of text/dedup) ---

# quote/backslash excluded (SQL literal escaping artifacts, not split
# semantics); NUL excluded because DuckDB VARCHARs cannot carry \x00 at
# all — a parquet column could never deliver one to the oracle either.
# Cased characters with non-trivial lower() are excluded too: Spark/Python
# do FULL Unicode case mapping while DuckDB's utf8proc does SIMPLE mapping
# (U+0130, word-final Σ diverge — measured; documented in hashing.py), so
# parity is only CLAIMED for the simple-mapping domain this strategy
# generates: any uncased character plus ASCII letters.
_TOKEN_TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="'\\\x00"
    ).filter(lambda c: ord(c) < 128 or c.lower() == c),
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(_TOKEN_TEXT)
def test_py_tokens_matches_duckdb_tokenizer(text):
    """hashing.py_tokens (the UDF-side tokenizer) must agree token-for-token
    with the DuckDB oracle tokenizer (sql_tokens) on arbitrary input — the
    shingle/simhash hash parity silently breaks anywhere they diverge.
    (Quote/backslash excluded: they'd need SQL literal escaping, and the
    split semantics don't depend on them.)"""
    import duckdb

    from ccm_spark.functions.hashing import py_tokens, sql_tokens

    got = py_tokens(text)
    literal = "'" + text + "'"
    want = duckdb.sql(f"SELECT {sql_tokens(literal)} AS t").fetchone()[0]
    assert got == list(want)


@given(
    st.lists(st.integers(min_value=0, max_value=2**31 - 1), min_size=1, max_size=50),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=8, max_value=30),
)
@settings(deadline=None)
def test_bloom_positions_bounds_and_determinism(hashes, k, log2_m):
    from ccm_spark.functions.hashing import bloom_positions

    a = bloom_positions(hashes, k, log2_m)
    b = bloom_positions(hashes, k, log2_m)
    assert a.shape == (len(hashes), k)
    assert (a == b).all()
    assert (a < (1 << log2_m)).all()
    # equal inputs map to equal rows (membership testing relies on it)
    if len(hashes) >= 2 and hashes[0] == hashes[1]:
        assert (a[0] == a[1]).all()


_WP_ALPHA = "ab"


@given(st.text(alphabet=_WP_ALPHA, min_size=1, max_size=24))
@settings(deadline=None)
def test_wordpiece_char_vocab_reconstructs(word):
    """With a full character vocab, segmentation never UNKs and the
    pieces (## stripped) concatenate back to the word; with the word
    itself in vocab, greedy takes it whole."""
    from ccm_spark.functions.hashing import py_wordpiece

    vocab = {}
    for ch in _WP_ALPHA:
        vocab[ch] = len(vocab) + 1
        vocab["##" + ch] = len(vocab) + 1
    ids = py_wordpiece(word, vocab, 0)
    assert 0 not in ids
    inv = {v: k for k, v in vocab.items()}
    rebuilt = "".join(inv[i].removeprefix("##") for i in ids)
    assert rebuilt == word
    vocab2 = dict(vocab)
    vocab2[word] = 999
    assert py_wordpiece(word, vocab2, 0) == [999]


@given(
    st.integers(min_value=30, max_value=5000),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**20),
)
@settings(deadline=None)
def test_surrogate_offsets_properties(n, k, seed):
    from ccm_spark.significance import surrogate_offsets

    offs = surrogate_offsets(n, k, seed)
    assert len(offs) == k
    ms = max(1, n // 10)
    assert all(ms <= o <= n - ms for o in offs)
    assert offs == surrogate_offsets(n, k, seed)


@given(
    st.integers(min_value=30, max_value=2000),
    st.integers(min_value=1, max_value=200),
)
@settings(deadline=None)
def test_holdout_lib_size_leaves_holdout(n, holdout):
    from ccm_spark.config import CCMConfig
    from ccm_spark.significance import holdout_lib_size

    cfg = CCMConfig()
    lib = holdout_lib_size(cfg, n, min_holdout=holdout)
    ladder = cfg.resolved_lib_sizes(n)
    assert lib in ladder
    n_emb = n - (cfg.embedding_dim - 1) * cfg.tau
    if any(n_emb - v >= holdout for v in ladder):
        assert n_emb - lib >= holdout
        # maximal: no larger ladder entry also satisfies the holdout
        assert all(v <= lib or n_emb - v < holdout for v in ladder)
    else:
        assert lib == ladder[-1]


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=2,
                max_size=200, unique=True))
@settings(deadline=None)
def test_splitmix64_injective_and_dispersed(xs):
    from ccm_spark.functions.hashing import splitmix64

    out = [splitmix64(x) for x in xs]
    # splitmix64 is a bijection on 64-bit ints: distinct in -> distinct out
    assert len(set(out)) == len(xs)
    assert out == [splitmix64(x) for x in xs]  # deterministic
    assert all(0 <= o < 2**64 for o in out)


@given(
    st.lists(st.sampled_from(["a", "b", "c", "dd", "eee"]), max_size=40),
    st.floats(min_value=0.01, max_value=2.0),
)
@settings(deadline=None)
def test_lm_score_model_invariants(tokens, alpha):
    """Perplexity is always >= 1 (every smoothed probability <= 1),
    2**cross_entropy == perplexity, and the kernel is deterministic."""
    import math

    from ccm_spark.pipeline.lm import UNK, score_model

    model = {
        "alpha": alpha,
        "vocab": {"a": 10, "b": 5, "c": 3},
        "unk_count": 2,
        "total": 20,
        "n_classes": 4,
        "bigrams": {("a", "b"): 4, ("b", "a"): 2, (UNK, "a"): 1},
    }
    n, h, ppl = score_model(model, tokens)
    assert n == len(tokens)
    if not tokens:
        assert math.isnan(h) and math.isnan(ppl)
    else:
        assert ppl >= 1.0 - 1e-12
        assert abs(2.0**h - ppl) < 1e-9 * max(1.0, ppl)
        assert score_model(model, tokens) == (n, h, ppl)


@given(st.lists(st.text(alphabet="ab c\tD.", min_size=1, max_size=20), min_size=1, max_size=10))
def test_normalize_phrases_properties(raw):
    """For any phrase list with at least one tokenizable entry:
    normalization is idempotent (on the joined forms), order-preserving
    on first occurrences, and duplicate-free."""
    from ccm_spark.pipeline.filters import normalize_phrases

    tokenizable = [p for p in raw if any(ch not in " \t" for ch in p)]
    if len(tokenizable) < len(raw):
        # lists containing whitespace-only phrases must be rejected
        import pytest

        with pytest.raises(ValueError):
            normalize_phrases(raw)
        return
    out = normalize_phrases(raw)
    joined = [" ".join(t) for t in out]
    assert len(set(joined)) == len(joined)  # no duplicates survive
    assert normalize_phrases(joined) == out  # idempotent
    # every output is some input's tokenization, in first-seen order
    seen = []
    for p in raw:
        key = " ".join(w for w in p.lower().split() if w)
        if key and key not in seen:
            seen.append(key)
    assert joined == seen


@given(st.text(max_size=400), st.integers(min_value=1, max_value=9))
def test_compression_ratio_kernel_properties(text, level):
    """Deterministic, guard at empty, ratio consistent with stdlib."""
    import zlib

    from ccm_spark.pipeline.filters import py_compression_ratio

    a = py_compression_ratio(text, level)
    assert a == py_compression_ratio(text, level)
    nb, nc, ratio = a
    b = (text or "").encode("utf-8")
    assert nb == len(b)
    assert nc == len(zlib.compress(b, level))
    if nb == 0:
        assert ratio == 0.0
    else:
        assert ratio == nc / nb
