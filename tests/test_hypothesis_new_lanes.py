"""Hypothesis properties for the round-5 lanes — pure-Python kernel
invariants (no Spark session, so examples are cheap): AVI container
round-trips over arbitrary payloads, tokenizer reconstruction, Morton
bijectivity, LM scorer bounds."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from spotify_etl_aws_spark.operators.bpe import _encode_word, _merge_word
from spotify_etl_aws_spark.operators.lm import CharLmModel, _doc_log_ppl
from spotify_etl_aws_spark.operators.unigram import _viterbi, _word_ll
from spotify_etl_aws_spark.operators.video import (
    encode_avi_mjpeg,
    extract_frame,
    parse_avi,
)

_SETTINGS = dict(max_examples=50, deadline=None)


# AVI stores MJPEG chunks verbatim and parse_avi never entropy-decodes,
# so the container contract must hold for ARBITRARY frame payloads —
# including empty-ish, odd-length, and marker-colliding bytes.
@settings(**_SETTINGS)
@given(
    frames=st.lists(st.binary(min_size=1, max_size=200), min_size=1, max_size=8),
    fps=st.integers(min_value=1, max_value=120),
)
def test_avi_container_roundtrip_any_payload(frames, fps):
    avi = encode_avi_mjpeg(frames, fps=fps, width=32, height=24)
    m = parse_avi(avi)
    assert (m.width, m.height, m.n_frames) == (32, 24, len(frames))
    assert m.fps == float(fps)
    for i, f in enumerate(frames):
        assert extract_frame(avi, m, i) == f
    # index fast path == movi scan fallback
    assert m.frame_index == parse_avi(avi, use_index=False).frame_index


_words = st.text(
    alphabet=st.sampled_from("abcdef"), min_size=0, max_size=24
)
_pairs = st.lists(
    st.tuples(
        st.text(alphabet=st.sampled_from("abcdef"), min_size=1, max_size=3),
        st.text(alphabet=st.sampled_from("abcdef"), min_size=1, max_size=3),
    ),
    max_size=12,
)


@settings(**_SETTINGS)
@given(word=_words, merges=_pairs)
def test_bpe_encode_reconstructs_for_any_ranks(word, merges):
    """Whatever (even nonsensical) merge table is learned, the encoder
    must never lose or invent characters."""
    ranks = {p: i for i, p in enumerate(merges)}
    toks = _encode_word(word, ranks)
    assert "".join(toks) == word
    assert all(toks)  # no empty tokens


@settings(**_SETTINGS)
@given(word=_words.filter(bool), merges=_pairs)
def test_merge_word_preserves_string(word, merges):
    syms = tuple(word)
    for p in merges:
        syms = _merge_word(syms, p)
        assert "".join(syms) == word


@settings(**_SETTINGS)
@given(
    word=_words,
    vocab=st.dictionaries(
        st.text(alphabet=st.sampled_from("abcdef"), min_size=1, max_size=4),
        st.floats(min_value=-20.0, max_value=-0.1),
        max_size=20,
    ),
)
def test_viterbi_reconstructs_and_scores_consistently(word, vocab):
    seg = _viterbi(word, vocab, 4)
    assert "".join(seg) == word
    # the DP score equals the returned path's score (char fallback for
    # out-of-vocab singles); both are 0.0 for the empty word
    score = sum(vocab.get(p, -30.0) for p in seg)
    assert math.isclose(_word_ll(word, vocab, 4), score)


@settings(**_SETTINGS)
@given(x=st.integers(0, 4095), y=st.integers(0, 4095))
def test_morton_interleave_is_bijective(x, y):
    bits = 12
    z = 0
    for k, v in enumerate((x, y)):
        for b in range(bits):
            z |= ((v >> b) & 1) << (b * 2 + k)
    # de-interleave recovers both coordinates
    rx = sum(((z >> (b * 2)) & 1) << b for b in range(bits))
    ry = sum(((z >> (b * 2 + 1)) & 1) << b for b in range(bits))
    assert (rx, ry) == (x, y)


@settings(**_SETTINGS)
@given(
    text=st.text(alphabet=st.sampled_from("ab "), min_size=0, max_size=40),
    alpha=st.floats(min_value=0.01, max_value=2.0),
)
def test_lm_score_bounds(text, alpha):
    """Perplexity under any count model is a positive, finite number of
    bits (smoothing forbids zero-probability events), or None when the
    text is shorter than the order."""
    m = CharLmModel(
        order=2,
        ngram_counts={"ab": 3, "ba": 2, "a ": 1},
        context_counts={"a": 4, "b": 2, " ": 1},
        n_chars=3,
        alpha=alpha,
    )
    s = _doc_log_ppl(text, m)
    if len(text) < 2:
        assert s is None
    else:
        assert s is not None and math.isfinite(s) and s > 0.0


@settings(**_SETTINGS)
@given(payload=st.binary(min_size=0, max_size=3000))
def test_gif_lzw_roundtrip_any_bytes(payload):
    from spotify_etl_aws_spark.operators.gif import _lzw_decode, _lzw_encode

    assert _lzw_decode(_lzw_encode(payload), 8) == payload


# UniMax water-filling: pure driver math, so properties are cheap.
from spotify_etl_aws_spark.operators.heuristics import unimax_allocation


@settings(**_SETTINGS)
@given(
    counts=st.dictionaries(
        st.text(st.characters(categories=("Ll",)), min_size=1, max_size=4),
        st.floats(min_value=0.0, max_value=1e9, allow_nan=False),
        min_size=1,
        max_size=12,
    ),
    budget=st.floats(min_value=0.0, max_value=1e10, allow_nan=False),
    max_epochs=st.floats(min_value=0.01, max_value=64.0, allow_nan=False),
)
def test_unimax_allocation_invariants(counts, budget, max_epochs):
    alloc = unimax_allocation(counts, budget, max_epochs)
    assert set(alloc) == set(counts)
    capacity = sum(c * max_epochs for c in counts.values())
    total = sum(alloc.values())
    # every stratum within its epoch cap, nothing negative
    for k, a in alloc.items():
        assert -1e-6 <= a <= counts[k] * max_epochs + 1e-6
    # budget conservation: all of min(budget, capacity) is spent
    assert math.isclose(
        total, min(budget, capacity), rel_tol=1e-9, abs_tol=1e-6
    )


@settings(**_SETTINGS)
@given(
    counts=st.dictionaries(
        st.text(st.characters(categories=("Ll",)), min_size=1, max_size=4),
        st.floats(min_value=1.0, max_value=1e6, allow_nan=False),
        min_size=2,
        max_size=8,
    ),
    budget=st.floats(min_value=1.0, max_value=1e7, allow_nan=False),
)
def test_unimax_allocation_budget_monotone(counts, budget):
    """More budget never means less allocation for any stratum."""
    a1 = unimax_allocation(counts, budget, 4.0)
    a2 = unimax_allocation(counts, budget * 1.5, 4.0)
    for k in counts:
        assert a2[k] >= a1[k] - 1e-6


# DSIR featurizer/scorer: shared-kernel invariants.
from spotify_etl_aws_spark.operators.dsir import (
    DsirModel,
    _doc_buckets,
)


@settings(**_SETTINGS)
@given(
    text=st.text(max_size=300),
    nb=st.integers(min_value=1, max_value=128),
    ng=st.integers(min_value=1, max_value=3),
)
def test_dsir_buckets_in_range_and_deterministic(text, nb, ng):
    b1 = _doc_buckets(text, nb, ng)
    b2 = _doc_buckets(text, nb, ng)
    assert b1 == b2
    assert all(0 <= x < nb for x in b1)
    # gram count identity: sum over n of max(0, len(toks)-n+1)
    toks = text.lower().split()
    want = sum(max(0, len(toks) - n + 1) for n in range(1, ng + 1))
    assert len(b1) == want


# ---- round-6 third-session lanes ----

# The mix_unimax_allocation ORACLE solves the water level in closed
# form (alloc = min(cap, λ) with Σ min(cap, λ) = budget); the operator
# walks the ascending-capacity recurrence. The query's correctness
# rests on these being the same function — pin it over arbitrary
# count maps, budgets, and epoch caps.
@settings(**_SETTINGS)
@given(
    counts=st.dictionaries(
        st.text(st.characters(codec="ascii"), min_size=1, max_size=4),
        st.floats(0.0, 1e6, allow_nan=False),
        min_size=1,
        max_size=8,
    ),
    budget_frac=st.floats(0.0, 2.0),
    max_epochs=st.floats(0.1, 8.0),
)
def test_unimax_recurrence_equals_closed_form(counts, budget_frac, max_epochs):
    from spotify_etl_aws_spark.operators.heuristics import unimax_allocation

    total = sum(counts.values())
    budget = total * budget_frac
    alloc = unimax_allocation(counts, budget=budget, max_epochs=max_epochs)

    # closed form: λ solves Σ min(cap_l, λ) = budget (when feasible)
    caps = sorted(
        (counts[k] * max_epochs, k) for k in counts
    )
    n = len(caps)
    s = 0.0
    big_j, s_big_j = 0, 0.0
    for j, (cap, _) in enumerate(caps, start=1):
        if cap * (n - j + 1) <= budget - s:
            big_j, s_big_j = j, s + cap
        s += cap
    lam = None if big_j >= n else (budget - s_big_j) / (n - big_j)
    for k in counts:
        cap = counts[k] * max_epochs
        want = cap if lam is None else min(cap, lam)
        assert math.isclose(alloc[k], want, rel_tol=1e-9, abs_tol=1e-6), (
            k, alloc[k], want, lam
        )
    # conservation: Σ alloc == min(budget, capacity)
    assert math.isclose(
        sum(alloc.values()), min(budget, s), rel_tol=1e-9, abs_tol=1e-6
    )


# Misra–Gries invariant on arbitrary streams: for every surviving key,
# cnt <= true <= cnt + decrements; for every evicted key,
# true <= decrements. (Pure-python replay of the operator's kernel —
# the Spark wrapper is Arrow plumbing around exactly this loop.)
@settings(**_SETTINGS)
@given(
    stream=st.lists(st.integers(0, 12), max_size=400),
    capacity=st.integers(1, 6),
)
def test_misra_gries_bounds_any_stream(stream, capacity):
    counts: dict[int, int] = {}
    dec = 0
    for key in stream:
        if key in counts:
            counts[key] += 1
        elif len(counts) < capacity:
            counts[key] = 1
        else:
            dec += 1
            dead = [k for k in counts if counts[k] == 1]
            for k in counts:
                counts[k] -= 1
            for k in dead:
                del counts[k]
    from collections import Counter

    true = Counter(stream)
    for k, c in counts.items():
        assert c <= true[k] <= c + dec
    for k in true:
        if k not in counts:
            assert true[k] <= dec


# DTW (operators/dtw.py): endpoint cells are on every warping path, so
# their costs lower-bound the distance; for equal-length series the
# diagonal path upper-bounds it by pointwise L1. Both must hold for
# ARBITRARY integer series.
_series = st.lists(st.integers(-1000, 1000), min_size=1, max_size=12)


@settings(**_SETTINGS)
@given(a=_series, b=_series)
def test_dtw_endpoint_lower_bound(a, b):
    from spotify_etl_aws_spark.operators.dtw import dtw_distance

    d = dtw_distance(a, b)
    lb = abs(a[0] - b[0]) if (len(a) == 1 or len(b) == 1) else (
        abs(a[0] - b[0]) + abs(a[-1] - b[-1])
    )
    if len(a) == 1 and len(b) == 1:
        assert d == abs(a[0] - b[0])
    else:
        assert d >= lb


@settings(**_SETTINGS)
@given(a=_series)
def test_dtw_identity_and_l1_upper_bound(a):
    from spotify_etl_aws_spark.operators.dtw import dtw_distance

    assert dtw_distance(a, a) == 0
    b = [v + 3 for v in a]
    assert dtw_distance(a, b) <= 3 * len(a)  # diagonal path bound


@settings(**_SETTINGS)
@given(a=_series, b=_series)
def test_dtw_prefilter_bound_is_admissible(a, b):
    """The pruning cascade's exactness rests on dtw_lower_bound never
    exceeding the true distance, for ARBITRARY integer series; it must
    also dominate the plain endpoint bound (it embeds the endpoint
    cells exactly) and be symmetric."""
    from spotify_etl_aws_spark.operators.dtw import (
        dtw_distance,
        dtw_lower_bound,
    )

    d = dtw_distance(a, b)
    lb = dtw_lower_bound(a, b)
    assert 0 <= lb <= d
    assert lb == dtw_lower_bound(b, a)
    endpoint = abs(a[0] - b[0]) if (len(a) == 1 and len(b) == 1) else (
        abs(a[0] - b[0]) + abs(a[-1] - b[-1])
    )
    assert lb >= endpoint


# ---- round-10 pure-Python kernel invariants ----

_probs = st.floats(
    min_value=1e-9, max_value=1.0 - 1e-9, allow_nan=False, allow_infinity=False
)


@settings(**_SETTINGS)
@given(x=_probs, d=st.integers(min_value=1, max_value=9))
def test_floor_half_up_grid_is_idempotent_and_bounded(x, d):
    # the cross-engine rounding formula fs_learn_weights(decimals=d)
    # applies after clamping: result sits ON the grid, within half a
    # grid step of the input, and re-rounding is the identity
    grid = 10.0 ** d
    r = math.floor(x * grid + 0.5) / grid
    assert abs(r - x) <= 0.5 / grid + 1e-15
    assert math.floor(r * grid + 0.5) / grid == r


@settings(**_SETTINGS)
@given(
    w=st.floats(min_value=-60, max_value=60, allow_nan=False),
    scale=st.integers(min_value=1, max_value=100),
)
def test_int_weight_rounding_is_half_up_and_monotone(w, scale):
    from spotify_etl_aws_spark.operators.linkage import fs_int_weights

    fit = {"w_agree": {"f": w}, "w_disagree": {"f": w}}
    iw = fs_int_weights(fit, scale=scale)["w_agree"]["f"]
    # |error| <= 0.5 ulp of the scaled grid, and exact half rounds UP
    assert abs(iw - w * scale) <= 0.5 + 1e-9
    assert fs_int_weights(
        {"w_agree": {"f": w + 1.0}, "w_disagree": {"f": 0.0}}, scale=scale
    )["w_agree"]["f"] >= iw  # monotone in w


@settings(**_SETTINGS)
@given(
    cells=st.lists(
        st.lists(st.integers(min_value=0, max_value=255), min_size=8, max_size=8),
        min_size=8,
        max_size=8,
    )
)
def test_dhash_bit_k_is_the_gradient_sign(cells):
    import numpy as np

    from spotify_etl_aws_spark.operators.phash import dhash_pixels

    arr = np.asarray(cells, dtype=np.uint8)
    px = np.repeat(np.repeat(arr, 2, 0), 2, 1)
    px = np.repeat(px[:, :, None], 3, 2)
    h = dhash_pixels(px.astype(np.uint8))
    for r in range(8):
        for c in range(7):
            bit = (h >> (r * 7 + c)) & 1
            assert bit == (1 if cells[r][c] > cells[r][c + 1] else 0)


@given(ys=st.lists(st.integers(min_value=-10**9, max_value=10**9),
                   min_size=1, max_size=200))
def test_cusum_window_identity(ys):
    """The CUSUM rewrite used by ts_cusum_alarms is an identity, not a
    fixture accident: S_t = max(0, S_{t-1} + y_t) equals
    P_t - min(0, min_{j<=t} P_j) for every integer series."""
    s = 0
    p = 0
    mn = 0
    for y in ys:
        s = max(0, s + y)
        p += y
        mn = min(mn, p)
        assert s == p - min(0, mn)


@given(
    bits=st.integers(min_value=1, max_value=8),
    data=st.data(),
)
def test_hilbert_bijection_and_range(bits, data):
    """xy2d is injective on the full grid (sampled exhaustively up to
    2^8 cells) and lands in [0, 4^bits)."""
    from spotify_etl_aws_spark.operators.hilbert import hilbert_xy2d

    n = 1 << bits
    if n * n <= 256:
        ds = {hilbert_xy2d(x, y, bits) for x in range(n) for y in range(n)}
        assert ds == set(range(n * n))
    else:
        pts = data.draw(
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=n - 1),
                    st.integers(min_value=0, max_value=n - 1),
                ),
                min_size=2, max_size=50, unique=True,
            )
        )
        ds = [hilbert_xy2d(x, y, bits) for x, y in pts]
        assert len(set(ds)) == len(pts)
        assert all(0 <= d < n * n for d in ds)
