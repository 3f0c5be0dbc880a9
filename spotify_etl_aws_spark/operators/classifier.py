"""Model-based quality classifier trained IN-ENGINE (north-star,
SURVEY.md §2.11c) — the FineWeb/RefinedWeb-class filter: a linear
classifier over hashed bag-of-terms features separates "reference
quality" text (curated corpus, encyclopedia, books) from raw crawl
text, and its probability becomes the keep/drop score. The widely
used implementation is a fastText supervised model; a hashed-feature
logistic regression is the same hypothesis class (linear over term
buckets) minus the subword embedding table, trainable with nothing
but the engine.

Distributed training follows the MLlib/driver-loop posture the
quantizer and tokenizer trainers already use: features are extracted
once into an Arrow-cached frame, then each GD iteration broadcasts the
(dim+1)-float weight vector and reduces ONE partial-gradient row per
partition (``mapInPandas`` computing X^T err over its batch), so
driver state is O(dim · partitions) per step and corpus bytes never
move. Scoring is one map-side pandas kernel (the model rides the
closure), composable as a curation-ladder gate.

Featurization runs INSIDE the kernels (blake2b bucket + sign hash,
unit L2) so training and scoring are self-consistent by construction.
It trades JVM execution for closure-portability, which is what a
20-line numpy gradient needs.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class LinearQualityModel(NamedTuple):
    dim: int
    shingle_n: int
    bias: float
    weights: tuple[float, ...]


def _term_hash(term: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(term.encode("utf-8"), digest_size=8).digest(), "little"
    )


def _featurize(text: str | None, dim: int, shingle_n: int) -> np.ndarray:
    v = np.zeros(dim, dtype=np.float64)
    if not text:
        return v
    toks = text.lower().split()
    terms = (
        toks
        if shingle_n == 1
        else [" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)]
    )
    for t in terms:
        h = _term_hash(t)
        v[h % dim] += 1.0 if (h >> 63) & 1 == 0 else -1.0
    n = float(np.linalg.norm(v))
    return v / n if n > 0 else v


def _feature_frame(
    docs: DataFrame, label: int, dim: int, shingle_n: int, text_col: str
) -> DataFrame:
    schema = "label double, x array<double>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "label": float(label),
                    "x": [
                        _featurize(t, dim, shingle_n) for t in pdf[text_col]
                    ],
                }
            )

    return docs.select(text_col).mapInPandas(gen, schema)


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    dim: int = 256,
    shingle_n: int = 1,
    iters: int = 40,
    lr: float = 2.0,
    l2: float = 1e-4,
    text_col: str = "text",
) -> LinearQualityModel:
    """Logistic regression: ``pos`` = reference-quality docs (label 1),
    ``neg`` = raw/unwanted docs (label 0). Deterministic full-batch
    gradient descent — same inputs, same model."""
    if dim <= 0 or iters <= 0:
        raise ValueError("dim and iters must be positive")
    feats = (
        _feature_frame(pos, 1, dim, shingle_n, text_col)
        .unionByName(_feature_frame(neg, 0, dim, shingle_n, text_col))
        .persist()
    )
    partial_schema = "g array<double>, gb double, n double"

    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    try:
        for _ in range(iters):
            wb = (w, b)

            def partials(
                batches: Iterator[pd.DataFrame], wb=wb
            ) -> Iterator[pd.DataFrame]:
                ww, bb = wb
                g = np.zeros(len(ww), dtype=np.float64)
                gb = 0.0
                n = 0
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.stack(pdf["x"].to_numpy())
                    y = pdf["label"].to_numpy()
                    p = 1.0 / (1.0 + np.exp(-(X @ ww + bb)))
                    err = p - y
                    g += X.T @ err
                    gb += float(err.sum())
                    n += len(y)
                yield pd.DataFrame({"g": [g], "gb": [gb], "n": [float(n)]})

            rows = feats.mapInPandas(partials, partial_schema).collect()
            g = np.sum([np.array(r.g) for r in rows], axis=0)
            gb = sum(r.gb for r in rows)
            n = sum(r.n for r in rows)
            if n == 0:
                raise ValueError("no training documents")
            w -= lr * (g / n + l2 * w)
            b -= lr * (gb / n)
    finally:
        feats.unpersist()
    return LinearQualityModel(dim, shingle_n, float(b), tuple(float(x) for x in w))


def score_quality(
    model: LinearQualityModel,
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Append ``out_col: double`` — P(reference-quality) under the
    trained model. Map-side pandas kernel; O(dim) closure state."""
    w = np.array(model.weights, dtype=np.float64)
    b, dim, sn = model.bias, model.dim, model.shingle_n

    @F.pandas_udf("double")
    def prob(texts: pd.Series) -> pd.Series:
        def one(t: str | None) -> float | None:
            if t is None:
                return None
            # clamp the logit: math.exp overflows below ~-709 (a
            # hand-loaded model with big weights must saturate, not
            # kill the task)
            z = max(-60.0, min(60.0, float(_featurize(t, dim, sn) @ w) + b))
            return 1.0 / (1.0 + math.exp(-z))

        return texts.map(one)

    return docs.withColumn(out_col, prob(F.col(text_col)))


def classifier_gate(
    scored: DataFrame,
    min_prob: float = 0.5,
    prob_col: str = "quality_prob",
) -> DataFrame:
    """Keep documents the classifier accepts; NULL scores drop (same
    posture as the other gates)."""
    return scored.filter(F.col(prob_col) >= min_prob)
