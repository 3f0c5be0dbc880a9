"""DSIR — Data Selection with Importance Resampling (north-star
§2.11c extension; Xie et al., "Data Selection for Language Models via
Importance Resampling", NeurIPS 2023).

Given a small TARGET corpus (the distribution you want more of — e.g.
reference-quality pages, a domain slice) and the RAW corpus, DSIR
selects raw documents whose hashed-n-gram profile looks like the
target:

    features(d)  = bag of uni+bigrams hashed into B buckets
    log w(d)     = Σ_b c_b(d) · ( log p̂_target[b] − log p̂_raw[b] )
    selection    = top-k of  log w(d) + Gumbel(d)   (importance
                   RESAMPLING, not thresholding — the Gumbel-top-k
                   trick samples ∝ w without replacement)

Spark shape (the same three-posture split as the quality classifier,
``classifier.py:89``):

- **fit** is two counting jobs, one per corpus. Each partition folds
  its documents into ONE B-length partial count vector inside a
  ``mapInPandas`` kernel and emits a single row — the driver sums
  ≤ #partitions vectors. No shuffle at all, and driver model state is
  O(B) (80 KB at the default B=10⁴), like the quantizer/BPE models.
- **score** is a map-side Arrow kernel: the log-ratio array rides the
  task closure, every document scores independently, zero Exchange
  (plan-pinned in tests). Hashing lives in ONE Python function shared
  by fit and score, so the two can never disagree on buckets — the
  same reason the char-LM ships its counts into the kernel
  (``lm.py:61``).
- **select** is ``resample_dsir_fraction`` (approxQuantile threshold
  → map-side filter — the 100 TB path, where k is billions and a
  global exact top-k would range-shuffle the corpus).

The Gumbel noise is a deterministic function of (seed, doc_id) —
xxhash64 → uniform in (0,1) → −log(−log u) — so a retried task, a
re-run, and the test suite all select the identical set (same
retry-stability contract as ``splits.py:25``).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .lineage import cut_lineage

DEFAULT_BUCKETS = 10_000
_GUMBEL_M = 1 << 20  # uniform-grid resolution for the hash→(0,1) map


class DsirModel(NamedTuple):
    """Driver model state: the per-bucket log importance ratio."""

    n_buckets: int
    ngram_max: int
    alpha: float
    log_ratio: tuple[float, ...]
    hasher: str = "blake2b"


def _gram_hash(gram: str) -> int:
    """Stable 64-bit term hash (process-independent — Python's builtin
    ``hash`` is salted per interpreter and would break retry/replay
    determinism). Same construction as ``classifier.py:47``."""
    return int.from_bytes(
        hashlib.blake2b(gram.encode("utf-8"), digest_size=8).digest(),
        "little",
    )


def _gram_hash_md5(gram: str) -> int:
    """ENGINE-PORTABLE term hash: the top 60 bits of md5 as an int —
    DuckDB reproduces it verbatim as
    ``CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)``, which is what
    lets the whole fit→score→resample pipeline face a SQL oracle
    (the ``order_token_shards`` portable-md5 precedent). blake2b stays
    the default (faster, keyed-hash family); the featurization is
    otherwise identical."""
    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:15], 16)


_HASHERS = {"blake2b": _gram_hash, "md5": _gram_hash_md5}


def _cached_hasher(name: str):
    """Per-task memoized gram hash: occurrences within a partition
    repeat the same vocabulary many times over, so hashing each UNIQUE
    gram once cuts kernel CPU by the corpus' occurrence/vocab ratio."""
    from functools import lru_cache

    return lru_cache(maxsize=1 << 20)(_HASHERS[name])


def _doc_buckets(
    text: str | None, n_buckets: int, ngram_max: int, hash_fn=_gram_hash
) -> list[int]:
    """Bucket ids (with multiplicity) of the document's 1..ngram_max
    word grams — the ONE featurization both fit and score call."""
    if not text:
        return []
    toks = text.lower().split()
    out: list[int] = []
    for n in range(1, ngram_max + 1):
        for i in range(len(toks) - n + 1):
            out.append(hash_fn(" ".join(toks[i : i + n])) % n_buckets)
    return out


def _bucket_counts(
    docs: DataFrame,
    text_col: str,
    n_buckets: int,
    ngram_max: int,
    hasher: str = "blake2b",
) -> np.ndarray:
    """Global per-bucket gram counts: one row of partials per
    PARTITION (not per Arrow batch — the kernel folds its whole
    iterator first), summed on the driver. Zero Exchange."""
    schema = "counts array<double>"

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hash_fn = _cached_hasher(hasher)
        acc = np.zeros(n_buckets, dtype=np.float64)
        for pdf in batches:
            for t in pdf[text_col]:
                b = _doc_buckets(t, n_buckets, ngram_max, hash_fn)
                if b:
                    acc += np.bincount(b, minlength=n_buckets)
        yield pd.DataFrame({"counts": [acc]})

    rows = docs.select(text_col).mapInPandas(partials, schema).collect()
    total = np.zeros(n_buckets, dtype=np.float64)
    for r in rows:
        total += np.asarray(r.counts, dtype=np.float64)
    return total


def fit_dsir(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    ngram_max: int = 2,
    alpha: float = 1.0,
    hasher: str = "blake2b",
) -> DsirModel:
    """Fit the two hashed-n-gram multinomials and keep only their
    log-ratio. ``alpha`` is add-α smoothing — without it a bucket
    unseen in ``raw`` would give +inf weight to any raw document that
    hashes into it. ``hasher``: 'blake2b' (default, fast) or 'md5'
    (engine-portable — SQL-oracle-checkable; see ``_gram_hash_md5``).
    The model records its hasher so scoring can never disagree with
    the fit on buckets."""
    if n_buckets <= 0 or ngram_max <= 0:
        raise ValueError("n_buckets and ngram_max must be positive")
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed ratios diverge)")
    if hasher not in _HASHERS:
        raise ValueError(f"hasher must be one of {sorted(_HASHERS)}")
    t = _bucket_counts(target, text_col, n_buckets, ngram_max, hasher)
    r = _bucket_counts(raw, text_col, n_buckets, ngram_max, hasher)
    if t.sum() == 0:
        raise ValueError("target corpus produced no grams")
    if r.sum() == 0:
        raise ValueError("raw corpus produced no grams")
    log_p = np.log(t + alpha) - math.log(t.sum() + alpha * n_buckets)
    log_q = np.log(r + alpha) - math.log(r.sum() + alpha * n_buckets)
    ratio = log_p - log_q
    return DsirModel(
        n_buckets, ngram_max, alpha, tuple(float(x) for x in ratio), hasher
    )


def score_dsir(
    model: DsirModel,
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "dsir_logw",
) -> DataFrame:
    """Append ``out_col: double`` — the log importance weight. NULL
    text scores NULL (sorts last under the desc selection orders, so
    it can never displace a scored document); an empty/gram-less text
    scores 0.0 (no evidence either way)."""
    ratio = np.asarray(model.log_ratio, dtype=np.float64)
    nb, ng, hasher = model.n_buckets, model.ngram_max, model.hasher

    @F.pandas_udf("double")
    def logw(texts: pd.Series) -> pd.Series:
        hash_fn = _cached_hasher(hasher)

        def one(t: str | None) -> float | None:
            if t is None:
                return None
            b = _doc_buckets(t, nb, ng, hash_fn)
            return float(ratio[b].sum()) if b else 0.0

        return texts.map(one)

    return docs.withColumn(out_col, logw(F.col(text_col)))


def dsir_fit_score(
    docs: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    ngram_max: int = 2,
    alpha: float = 1.0,
    hasher: str = "blake2b",
    out_col: str = "dsir_logw",
) -> tuple[DsirModel, DataFrame]:
    """Featurize-once fit + score: ``fit_dsir`` + ``score_dsir`` over
    one corpus hash the grams of every document THREE times (target
    counts, raw counts, scoring). This path runs the featurization
    ONCE — a mapInPandas pass emits each document's occurrence-ordered
    bucket array, lazily localCheckpointed (guide §8: decide with
    small rows — an int per gram stored beats an md5 per gram
    recomputed twice); the fit partials and the scoring pass then read
    stored arrays. ``target_col`` is a boolean column marking the
    target slice (so the raw and target multinomials accumulate in the
    same pass — exact: integer counts in float64).

    Bit-compatibility with the 3-pass path (verified exhaustively at
    sf0.1, r14): the bucket arrays preserve occurrence order, so
    ``ratio[b].sum()`` sees the identical operand sequence and the
    model's log-ratio is built from identical per-bucket totals.
    NULL text scores NULL, gram-less text 0.0 (the score_dsir
    contract). Returns (model, (id_col, out_col) frame)."""
    if n_buckets <= 0 or ngram_max <= 0:
        raise ValueError("n_buckets and ngram_max must be positive")
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed ratios diverge)")
    if hasher not in _HASHERS:
        raise ValueError(f"hasher must be one of {sorted(_HASHERS)}")

    feat_schema = f"{id_col} long, __tgt boolean, __b array<int>"

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hash_fn = _cached_hasher(hasher)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "__tgt": pdf[target_col],
                    "__b": [
                        (
                            None
                            if txt is None
                            else _doc_buckets(
                                txt, n_buckets, ngram_max, hash_fn
                            )
                        )
                        for txt in pdf[text_col]
                    ],
                }
            )

    feats = (
        docs.select(id_col, target_col, text_col)
        .mapInPandas(featurize, feat_schema)
        .transform(cut_lineage)
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc_r = np.zeros(n_buckets, dtype=np.float64)
        acc_t = np.zeros(n_buckets, dtype=np.float64)
        for pdf in batches:
            for tgt, b in zip(pdf["__tgt"], pdf["__b"]):
                if b is not None and len(b):
                    h = np.bincount(b, minlength=n_buckets)
                    acc_r += h
                    if tgt:
                        acc_t += h
        yield pd.DataFrame({"r": [acc_r], "t": [acc_t]})

    rows = feats.mapInPandas(
        partials, "r array<double>, t array<double>"
    ).collect()  # materializes feats; bounded: partitions x 2 arrays
    r_cnt = np.zeros(n_buckets, dtype=np.float64)
    t_cnt = np.zeros(n_buckets, dtype=np.float64)
    for row in rows:
        r_cnt += np.asarray(row.r, dtype=np.float64)
        t_cnt += np.asarray(row.t, dtype=np.float64)
    if t_cnt.sum() == 0:
        raise ValueError("target corpus produced no grams")
    if r_cnt.sum() == 0:
        raise ValueError("raw corpus produced no grams")
    log_p = np.log(t_cnt + alpha) - math.log(t_cnt.sum() + alpha * n_buckets)
    log_q = np.log(r_cnt + alpha) - math.log(r_cnt.sum() + alpha * n_buckets)
    ratio = log_p - log_q
    model = DsirModel(
        n_buckets, ngram_max, alpha, tuple(float(x) for x in ratio), hasher
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # nullable Float64 so a NULL-text doc stays NULL (a plain
            # float64 array would coerce None to NaN)
            out = pd.array(
                [
                    (
                        None
                        if b is None
                        else (
                            float(ratio[list(b)].sum()) if len(b) else 0.0
                        )
                    )
                    for b in pdf["__b"]
                ],
                dtype="Float64",
            )
            yield pd.DataFrame({id_col: pdf[id_col], out_col: out})

    scored = feats.mapInPandas(score, f"{id_col} long, {out_col} double")
    return model, scored


def _gumbel_key(
    logw_col: str, id_col: str, seed: str, method: str = "xxhash64"
) -> Column:
    """log w + Gumbel(0,1), with the Gumbel variate a deterministic
    hash of (seed, doc_id): u = (h mod M + 0.5)/M ∈ (0,1), never 0 or
    1, so the double −log(−log u) is always finite. ``method='md5'``
    swaps the hash for the engine-portable top-60-md5-bits form
    (DuckDB: ``CAST('0x' || substr(md5(seed || ':' || id), 1, 15) AS
    BIGINT)``) so an oracle can replay the exact same variates."""
    if method == "md5":
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    elif method == "xxhash64":
        h = F.xxhash64(F.lit(seed), F.col(id_col))
    else:
        raise ValueError(f"unknown gumbel hash method: {method}")
    u = (F.pmod(h, F.lit(_GUMBEL_M)) + F.lit(0.5)) / F.lit(float(_GUMBEL_M))
    return F.col(logw_col) + (-F.log(-F.log(u)))


def resample_dsir_fraction(
    scored: DataFrame,
    fraction: float,
    seed: str = "v1",
    logw_col: str = "dsir_logw",
    id_col: str = "doc_id",
    relative_error: float = 0.001,
    gumbel_hash: str = "xxhash64",
) -> DataFrame:
    """The at-scale selection: keep ≈``fraction`` of the corpus by
    thresholding the same Gumbel-perturbed key at its approximate
    (1−fraction) quantile. One ``approxQuantile`` pass (GK sketch,
    driver state O(1/ε)) plus one map-side filter — no global sort,
    no top-k heap of a billion rows. The kept count is approximate to
    ``relative_error`` of the quantile rank; the kept SET is still
    deterministic given (seed, threshold)."""
    if not 0.0 < fraction < 1.0:
        raise ValueError("fraction must be in (0, 1)")
    keyed = scored.withColumn(
        "__k", _gumbel_key(logw_col, id_col, seed, gumbel_hash)
    ).filter(F.col(logw_col).isNotNull())
    [thr] = keyed.approxQuantile("__k", [1.0 - fraction], relative_error)
    return keyed.filter(F.col("__k") >= thr).drop("__k")
