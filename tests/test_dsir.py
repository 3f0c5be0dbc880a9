"""DSIR importance resampling (operators/dsir.py): exact parity with
an independent pure-Python reference, target-affinity of the scores,
retry/seed determinism, null handling, and the map-side plan pin
on the scoring stage."""

from __future__ import annotations

import hashlib
import math

import pytest

from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.dsir import (
    DsirModel,
    _gumbel_key,
    fit_dsir,
    resample_dsir_fraction,
    score_dsir,
)

B = 64  # small bucket space so fixture corpora collide realistically
NG = 2


# --- independent reference implementation (dict-based, no numpy) ----


def _ref_hash(g: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(g.encode("utf-8"), digest_size=8).digest(), "little"
    )


def _ref_buckets(text: str) -> list[int]:
    toks = text.lower().split()
    out = []
    for n in range(1, NG + 1):
        for i in range(len(toks) - n + 1):
            out.append(_ref_hash(" ".join(toks[i : i + n])) % B)
    return out


def _ref_counts(texts: list[str]) -> dict[int, int]:
    c: dict[int, int] = {}
    for t in texts:
        for b in _ref_buckets(t):
            c[b] = c.get(b, 0) + 1
    return c


def _ref_logw(text: str, tgt: list[str], raw: list[str], alpha=1.0) -> float:
    tc, rc = _ref_counts(tgt), _ref_counts(raw)
    tn, rn = sum(tc.values()), sum(rc.values())
    s = 0.0
    for b in _ref_buckets(text):
        lp = math.log(tc.get(b, 0) + alpha) - math.log(tn + alpha * B)
        lq = math.log(rc.get(b, 0) + alpha) - math.log(rn + alpha * B)
        s += lp - lq
    return s


TARGET = [
    "spark shuffle partitions tune the exchange",
    "broadcast joins avoid the shuffle entirely",
    "adaptive query execution replans the shuffle at runtime",
]
RAW = [
    "the cat sat on the mat",
    "spark shuffle exchange broadcast plan",
    "rain falls softly on the quiet village roofs",
    "broadcast the shuffle plan with adaptive execution",
    "grandma baked seven apple pies on sunday",
    "dogs bark at the mail carrier every morning",
]


def _frames(spark):
    tgt = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TARGET)], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(i, t) for i, t in enumerate(RAW)], "doc_id long, text string"
    )
    return tgt, raw


def test_fit_and_score_match_reference_exactly(spark):
    tgt, raw = _frames(spark)
    model = fit_dsir(tgt, raw, n_buckets=B, ngram_max=NG)
    got = {
        r.doc_id: r.dsir_logw
        for r in score_dsir(model, raw).select("doc_id", "dsir_logw").collect()
    }
    for i, t in enumerate(RAW):
        assert got[i] == pytest.approx(
            _ref_logw(t, TARGET, RAW), rel=1e-12
        ), f"doc {i}"


def test_selection_prefers_target_like_docs(spark):
    tgt, raw = _frames(spark)
    model = fit_dsir(tgt, raw, n_buckets=B, ngram_max=NG)
    scored = score_dsir(model, raw)
    # the spark-flavoured raw docs (ids 1, 3) score highest
    top = scored.orderBy(F.desc("dsir_logw")).limit(2).collect()
    assert {r.doc_id for r in top} == {1, 3}


def test_resample_deterministic_and_seed_sensitive(spark):
    tgt, raw = _frames(spark)
    model = fit_dsir(tgt, raw, n_buckets=B, ngram_max=NG)
    scored = score_dsir(model, raw)
    a = {r.doc_id for r in resample_dsir_fraction(scored, 0.5, seed="a").collect()}
    b = {r.doc_id for r in resample_dsir_fraction(scored, 0.5, seed="a").collect()}
    assert a == b
    # the selection key is logw + Gumbel(seed, id): near-tied docs
    # reorder under a different seed (flat scores make ties common)
    flat = DsirModel(B, NG, 1.0, tuple(0.0 for _ in range(B)))
    fs = score_dsir(flat, raw)
    seeds = {
        frozenset(r.doc_id for r in resample_dsir_fraction(fs, 0.5, seed=s).collect())
        for s in ("a", "b", "c", "d")
    }
    assert len(seeds) > 1


def test_null_and_empty_text(spark):
    tgt, raw = _frames(spark)
    model = fit_dsir(tgt, raw, n_buckets=B, ngram_max=NG)
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "spark shuffle exchange")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.dsir_logw for r in score_dsir(model, docs).collect()}
    assert rows[0] is None
    assert rows[1] == 0.0
    assert rows[2] is not None and rows[2] > 0.0
    # a NULL score is never selected
    picked = {
        r.doc_id
        for r in resample_dsir_fraction(score_dsir(model, docs), 0.9).collect()
    }
    assert 0 not in picked


def test_fraction_threshold_agrees_with_topk(spark):
    """The at-scale quantile path and the exact top-k pick the same
    head at equal effective k (600 docs, fraction .25 → k=150)."""
    tgt, _ = _frames(spark)
    docs = spark.createDataFrame(
        [
            (i, f"word{i % 37} spark shuffle" if i % 3 == 0 else f"word{i % 37} other text")
            for i in range(600)
        ],
        "doc_id long, text string",
    )
    model = fit_dsir(tgt, docs, n_buckets=B, ngram_max=NG)
    scored = score_dsir(model, docs)
    exact = {
        r.doc_id
        for r in scored.orderBy(
            F.desc(_gumbel_key("dsir_logw", "doc_id", "q")), "doc_id"
        )
        .limit(150)
        .collect()
    }
    approx = {
        r.doc_id
        for r in resample_dsir_fraction(
            scored, 0.25, seed="q", relative_error=1e-4
        ).collect()
    }
    # identical key column on both paths; the quantile's >= cut can
    # differ from the exact k-cut only at the rank-450 boundary, so
    # the sets agree up to a one-element boundary fringe
    assert exact - approx == set() or len(exact - approx) <= 1
    assert len(approx - exact) <= 1
    assert len(approx ^ exact) <= 1


def test_score_is_map_side(spark):
    tgt, raw = _frames(spark)
    model = fit_dsir(tgt, raw, n_buckets=B, ngram_max=NG)
    plan = score_dsir(model, raw)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bad_args_raise(spark):
    tgt, raw = _frames(spark)
    with pytest.raises(ValueError):
        fit_dsir(tgt, raw, n_buckets=0)
    with pytest.raises(ValueError):
        fit_dsir(tgt, raw, alpha=0.0)
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError):
        fit_dsir(empty, raw, n_buckets=B)
    model = fit_dsir(tgt, raw, n_buckets=B)
    scored = score_dsir(model, raw)
    with pytest.raises(ValueError):
        resample_dsir_fraction(scored, 1.5)


def test_fit_score_single_pass_bit_matches_three_pass(spark):
    """dsir_fit_score (r14 featurize-once path, used by the
    mix_dsir_selection lane) must be BIT-identical to
    fit_dsir(target, docs) + score_dsir over the same corpus —
    including the NULL-text -> NULL and gram-less -> 0.0 contract."""
    from pyspark.sql import functions as F

    from spotify_etl_aws_spark.operators.dsir import dsir_fit_score

    rows = [(i, t, t in TARGET) for i, t in enumerate(TARGET + RAW)]
    rows += [(100, None, False), (101, "   ", False)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, is_tgt boolean"
    )
    m_old = fit_dsir(
        docs.filter(F.col("is_tgt")), docs, n_buckets=B, ngram_max=NG
    )
    old = {
        r.doc_id: r.dsir_logw
        for r in score_dsir(m_old, docs)
        .select("doc_id", "dsir_logw")
        .collect()
    }
    m_new, scored = dsir_fit_score(
        docs, "is_tgt", n_buckets=B, ngram_max=NG
    )
    new = {r.doc_id: r.dsir_logw for r in scored.collect()}
    assert m_new.log_ratio == m_old.log_ratio  # identical doubles
    assert set(new) == set(old)
    for k in old:  # bit-equal scores, None preserved
        assert new[k] == old[k] or (new[k] is None and old[k] is None), k
    assert old[100] is None and new[100] is None
    assert old[101] == 0.0 and new[101] == 0.0
