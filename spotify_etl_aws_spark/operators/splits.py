"""Deterministic dataset splits (north-star, SURVEY.md §2.11c): assign
every document a train/val/test split by HASH, not by random draw.

Hash assignment is the property a training pipeline actually needs and
``randomSplit`` cannot give: a document's split depends only on its id
and the salt — stable across runs, cluster sizes, partitionings, and
corpus growth (adding documents never moves an existing one between
splits, so eval sets stay eval sets forever). It is also a pure
map-side projection: no shuffle, no RNG state, trivially joinable back
to any table carrying the id.

``xxhash64`` is Spark's built-in 64-bit hash (JVM-side, codegen-
friendly); the bucket is its non-negative remainder mod 1e6, compared
against cumulative weight boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def split_column(
    weights: dict[str, float], id_col: str = "doc_id", salt: str = "v1"
) -> Column:
    """The split-name expression for ``weights`` (name -> fraction,
    summing to ~1). Change ``salt`` to re-deal every assignment at
    once; keep it fixed to keep assignments frozen."""
    total = sum(weights.values())
    if not weights or abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    bucket = F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(_BUCKETS))
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < int(round(acc * _BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return (expr.otherwise(last) if expr is not None else last).alias("split")


def assign_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """df plus a ``split`` column. Default weights: 98/1/1
    train/val/test."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    return df.select("*", split_column(weights, id_col, salt))


def sample_exact_k_per_stratum(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Deterministic EXACT-k sample per stratum: rank rows inside each
    stratum by a salted md5 of the id (ties impossible — the id rides
    as the final key) and keep rank <= k. The per-stratum twin of the
    rate-based ``heuristics.stratified_sample_rates``: rates give you an
    expected fraction, this gives you exactly min(k, stratum size) rows
    — the shape eval-set carving and per-source capping want.

    md5 rather than xxhash64 so the selection is portable to any
    engine (same reason the MinHash lanes hash with md5): the sampled
    set can be re-derived outside Spark for audits. One shuffle on the
    stratum (the ranking window); retry-stable and
    insertion-order-free by construction."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window as W

    order = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    w = W.partitionBy(strata_col).orderBy(order, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


ES_DENOM = float(1 << 60)  # the md5-top-60-bits uniform's denominator


def es_key(
    weight_col: str, id_col: str = "doc_id", salt: str = "v1"
) -> Column:
    """The Efraimidis–Spirakis weighted-sampling key, engine-portable:
    ``ln(u) / w`` with ``u = (top-60 md5 bits + 0.5) / 2^60`` (never 0
    or 1). Taking the k LARGEST keys draws a without-replacement
    sample where each item's inclusion odds are proportional to its
    weight (Efraimidis & Spirakis 2006, the ln-transformed
    formulation). SQL twin:
    ``ln((CAST('0x'||substr(md5(salt||':'||id),1,15) AS BIGINT) + 0.5)
    / 2^60) / w``."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(ES_DENOM)
    return F.log(u) / F.col(weight_col).cast("double")


def sample_weighted_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "v1",
    key_decimals: int | None = None,
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: the ``k``
    rows with the largest ``es_key`` — inclusion probability rises
    with ``weight_col`` (all weights must be > 0; non-positive rows
    are rejected loudly, a silent drop would skew every inclusion
    odds downstream).

    The cut is ``orderBy(key desc, id).limit(k)`` — per-partition
    top-k heaps (TakeOrderedAndProject), never a single-reducer
    global window. ``key_decimals`` ranks on the ROUNDED key (house
    oracle-portability doctrine; probe grid margins per fixture).
    Returns the input columns plus ``es_key``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    bad = df.filter(
        F.col(weight_col).isNull() | (F.col(weight_col) <= 0)
    ).count()
    if bad:
        raise ValueError(
            f"{bad} rows have NULL or non-positive {weight_col!r}; "
            "ES sampling needs strictly positive weights"
        )
    key = es_key(weight_col, id_col, salt)
    if key_decimals is not None:
        key = F.round(key, key_decimals) + F.lit(0.0)
    return (
        df.withColumn("es_key", key)
        .orderBy(F.col("es_key").desc(), F.col(id_col).asc())
        .limit(k)
    )
