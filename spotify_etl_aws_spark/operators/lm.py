"""Character n-gram language-model quality scoring (north-star,
SURVEY.md §2.11c) — the CCNet-style perplexity filter: score
candidate documents by perplexity under a small LM fitted on a trusted
corpus, and gate out the tail (gibberish, boilerplate, wrong-domain
text score high; fluent in-domain text scores low).

The model (``CharLmModel``) is pruned n-gram and context counts —
O(K) driver state, the pruned-LM posture KenLM uses — shipped to
executors in the scoring kernel's closure. Scoring is map-side only —
document text never shuffles.

CCNet proper uses a 5-gram KenLM over SentencePiece tokens; the
simplification here is character trigrams with add-alpha smoothing,
which keeps every piece library-free while preserving the pipeline
shape (fit on clean -> score -> threshold).
"""

from __future__ import annotations

import math
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm_text(text_col: str) -> Column:
    """Lowercase + whitespace-collapse, the normalization the model's
    counts and the scored text must share (mismatched normalization is
    the classic LM deployment bug)."""
    return F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )


class CharLmModel(NamedTuple):
    """Pruned count model: P(c | ctx) = (count(ctx+c) + alpha) /
    (count(ctx) + alpha * n_chars), contexts of length order-1."""

    order: int
    ngram_counts: dict[str, int]
    context_counts: dict[str, int]
    n_chars: int
    alpha: float


def _doc_log_ppl(text: str, m: CharLmModel) -> float | None:
    """Average negative log2 probability per character (log2 of the
    perplexity). None for texts shorter than the model order — no full
    context exists to condition on."""
    n = m.order
    if len(text) < n:
        return None
    av = m.alpha * m.n_chars
    total = 0.0
    cnt = 0
    for i in range(len(text) - n + 1):
        g = text[i : i + n]
        p = (m.ngram_counts.get(g, 0) + m.alpha) / (
            m.context_counts.get(g[:-1], 0) + av
        )
        total -= math.log2(p)
        cnt += 1
    return total / cnt


def score_perplexity(
    model: CharLmModel,
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "log_ppl",
) -> DataFrame:
    """Append ``out_col: double`` — log2-perplexity under ``model``.
    Map-side pandas kernel; the pruned count tables ride the closure;
    the JVM side normalizes (``_norm_text``: lowercase, whitespace
    collapsed and trimmed), the kernel only walks windows, so the
    model's counts must come from text normalized the same way."""

    @F.pandas_udf("double")
    def ppl(texts: pd.Series) -> pd.Series:
        # NULL text scores NULL (and the gate drops it), like the
        # other text gates — not a task-killing TypeError
        return texts.map(
            lambda t: None if t is None else _doc_log_ppl(t, model)
        )

    return docs.withColumn(out_col, ppl(_norm_text(text_col)))


def perplexity_gate(
    scored: DataFrame,
    max_log_ppl: float,
    ppl_col: str = "log_ppl",
) -> DataFrame:
    """Keep documents the LM finds fluent enough. Texts too short to
    score (NULL) are dropped — same posture as the length gates."""
    return scored.filter(F.col(ppl_col) <= max_log_ppl)


def perplexity_buckets(
    scored: DataFrame,
    lang_col: str = "lang",
    ppl_col: str = "log_ppl",
    out_col: str = "ppl_bucket",
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3):
    bucket documents by perplexity TERCILE WITHIN EACH LANGUAGE, so a
    fluency threshold never compares a German score against an English
    distribution. Appends ``out_col``: 'head' (most fluent third),
    'middle', 'tail'; NULL perplexity (too-short texts) buckets NULL.

    Shape: one tiny aggregation (``percentile_approx`` terciles,
    one row per language — partial-agg shuffle of sketch state, GK
    driver cost O(#langs / accuracy⁻¹)) broadcast-joined back onto the
    corpus; the labeling itself is a map-side CASE. The corpus never
    hash-exchanges (plan-pinned in tests)."""
    cuts = (
        scored.filter(F.col(ppl_col).isNotNull())
        .groupBy(lang_col)
        .agg(
            F.percentile_approx(
                ppl_col, [1.0 / 3.0, 2.0 / 3.0], accuracy
            ).alias("__cuts")
        )
    )
    bucket = (
        F.when(F.col(ppl_col).isNull() | F.col("__cuts").isNull(), F.lit(None))
        .when(F.col(ppl_col) <= F.element_at("__cuts", 1), F.lit("head"))
        .when(F.col(ppl_col) <= F.element_at("__cuts", 2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cuts), lang_col, "left")
        .withColumn(out_col, bucket)
        .drop("__cuts")
    )


def bucket_gate(
    bucketed: DataFrame,
    keep: tuple[str, ...] = ("head", "middle"),
    bucket_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet's standard cut — drop the least-fluent tercile (and
    unbucketable NULLs, same posture as ``perplexity_gate``)."""
    return bucketed.filter(F.col(bucket_col).isin(list(keep)))
