"""Char n-gram LM perplexity filter (operators/lm.py): hand-computed
smoothing, the gibberish-vs-fluent separation the filter exists for,
and the map-side-only scoring plan."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.lm import (
    CharLmModel,
    _doc_log_ppl,
    perplexity_gate,
    score_perplexity,
)

CLEAN = [
    "the quick brown fox jumps over the lazy dog",
    "the rain in spain stays mainly in the plain",
    "she sells sea shells by the sea shore",
    "peter piper picked a peck of pickled peppers",
    "how much wood would a woodchuck chuck",
]


def _norm(t: str) -> str:
    return re.sub(r"\s+", " ", t.lower()).strip()


def _py_counts(texts: list[str], n: int) -> Counter:
    c: Counter = Counter()
    for t in texts:
        t = _norm(t)
        for i in range(len(t) - n + 1):
            c[t[i : i + n]] += 1
    return c


def char_lm(texts: list[str], order: int = 3, alpha: float = 0.1) -> CharLmModel:
    """The model a count over ``texts`` fits: every order-n gram and
    order-(n-1) context, add-alpha over the observed alphabet."""
    return CharLmModel(
        order,
        dict(_py_counts(texts, order)),
        dict(_py_counts(texts, order - 1)),
        len(_py_counts(texts, 1)) or 1,
        alpha,
    )


def test_hand_computed_score():
    # a tiny model where every probability is checkable by hand
    m = CharLmModel(
        order=2,
        ngram_counts={"ab": 3, "ba": 1},
        context_counts={"a": 3, "b": 2},
        n_chars=2,
        alpha=1.0,
    )
    # text "ab": one bigram, P(b|a) = (3+1)/(3+2) = 0.8
    assert _doc_log_ppl("ab", m) == pytest.approx(-math.log2(0.8))
    # "ba": P(a|b) = (1+1)/(2+2) = 0.5 -> exactly 1 bit
    assert _doc_log_ppl("ba", m) == pytest.approx(1.0)
    # unseen context "x?": P = (0+1)/(0+2) = 0.5
    assert _doc_log_ppl("xy", m) == pytest.approx(1.0)
    # too short to condition
    assert _doc_log_ppl("a", m) is None


def test_gibberish_scores_worse_and_gate(spark):
    m = char_lm(CLEAN)
    cand = spark.createDataFrame(
        [
            (0, "the quick brown dog jumps over the lazy fox"),  # fluent
            (1, "qzxv jkqp wvxz bqjk zzqx vkjp xqzw"),            # gibberish
            (2, "sea shells by the shore in the rain"),           # fluent
            (3, "zq"),                                            # too short
        ],
        "doc_id long, text string",
    )
    scored = score_perplexity(m, cand)
    rows = {r["doc_id"]: r["log_ppl"] for r in scored.collect()}
    assert rows[3] is None
    assert rows[1] > rows[0] and rows[1] > rows[2]
    # the margin is structural, not luck: gibberish is several bits
    # per char worse than in-domain text
    assert rows[1] - max(rows[0], rows[2]) > 2.0

    cut = (max(rows[0], rows[2]) + rows[1]) / 2
    kept = {r["doc_id"] for r in perplexity_gate(scored, cut).collect()}
    assert kept == {0, 2}

    # scoring is map-side only: no Exchange in the plan
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_kernel_matches_driver_scorer(spark):
    m = char_lm(CLEAN)
    cand = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CLEAN)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["log_ppl"] for r in score_perplexity(m, cand).collect()}
    for i, t in enumerate(CLEAN):
        assert got[i] == pytest.approx(_doc_log_ppl(_norm(t), m))
    # in-domain text under a model trained on it scores low
    assert all(v < 4.0 for v in got.values())


def test_null_text_scores_null_and_is_gated(spark):
    m = char_lm(CLEAN)
    cand = spark.createDataFrame(
        [(0, CLEAN[0]), (1, None)], "doc_id long, text string"
    )
    rows = {r.doc_id: r.log_ppl for r in score_perplexity(m, cand).collect()}
    assert rows[1] is None and rows[0] is not None
    kept = {r.doc_id for r in perplexity_gate(score_perplexity(m, cand), 10.0).collect()}
    assert kept == {0}


# ----------------- CCNet head/middle/tail bucketing -----------------

from spotify_etl_aws_spark.operators.lm import (  # noqa: E402
    bucket_gate,
    perplexity_buckets,
)


def _bucket_fixture(spark):
    # two languages with DISJOINT perplexity ranges: per-language
    # terciles differ from any global cut, which is the point
    rows = []
    for i in range(9):
        rows.append((i, "en", float(i)))  # en ppl 0..8
    for i in range(9):
        rows.append((100 + i, "de", 100.0 + i))  # de ppl 100..108
    rows.append((999, "en", None))  # unscoreable
    return spark.createDataFrame(rows, "doc_id long, lang string, log_ppl double")


def test_buckets_are_per_language_terciles(spark):
    out = perplexity_buckets(_bucket_fixture(spark))
    got = {r.doc_id: r.ppl_bucket for r in out.collect()}
    # en: 0,1,2 -> head; 3,4,5 -> middle; 6,7,8 -> tail
    for i in range(9):
        want = "head" if i <= 2 else ("middle" if i <= 5 else "tail")
        assert got[i] == want, f"en doc {i}"
        assert got[100 + i] == want, f"de doc {100 + i}"
    assert got[999] is None


def test_bucket_gate_keeps_head_middle(spark):
    out = bucket_gate(perplexity_buckets(_bucket_fixture(spark)))
    kept = {r.doc_id for r in out.collect()}
    assert kept == {0, 1, 2, 3, 4, 5, 100, 101, 102, 103, 104, 105}
    # tail and the NULL-scored doc are gone
    assert 8 not in kept and 999 not in kept


def test_bucketing_corpus_side_is_broadcast(spark):
    out = perplexity_buckets(_bucket_fixture(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only hash exchange is the #langs-row tercile agg, which
    # carries sketch state, never corpus rows
    assert plan.count("Exchange hashpartitioning") <= 1
