"""BM25 full-text retrieval (north-star §2.11c extension) — the
lexical-search complement of the vector lanes in ``queries/vector.py``.

A training-data pipeline needs lexical retrieval in several places:
finding near-matches of benchmark prompts beyond exact shingles,
pulling topic slices out of a web corpus, and serving as the sparse
half of hybrid (BM25 + dense) retrieval. The classic Okapi BM25:

    score(q, d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
                             (tf(t,d) + k1·(1 - b + b·|d|/avgdl))
    idf(t)     = ln( (N - df(t) + 0.5) / (df(t) + 0.5) + 1 )

(the "+1" Lucene form — idf stays positive even for terms in more
than half the corpus).

Spark shape — an INDEX-then-SEARCH split, mirroring the IVF posture:

- ``bm25_index`` builds the postings table (term, doc_id, tf) plus
  per-term document frequencies and per-doc lengths in TWO
  partial-aggregating shuffles over the exploded token stream (the
  explode itself is map-side; document text never shuffles — only
  (term, doc_id) pairs do).
- postings carry a term-hash ``bucket`` column; landed PARTITIONED BY
  it, a query's ``bucket IN (...)`` filter becomes partition pruning:
  a 3-term query over a P=256-bucket index reads ≤ 3/256 of the
  postings bytes (plan-pinned in tests, same mechanism as the IVF
  cell layout).
- ``bm25_search`` scores one query: its terms are a driver-side
  literal (a query is human-sized), the scan prunes to their buckets,
  idf/length normalization are pure JVM expressions, and the top-k is
  a ``TakeOrderedAndProject`` — never a full sort.

Corpus-level constants (N, avgdl) are two scalars collected once per
index build — model state, like a quantizer fit.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from .lineage import cut_lineage

DEFAULT_BUCKETS = 256


@dataclass(frozen=True)
class Bm25Stats:
    """Corpus constants captured at index time (driver model state)."""

    n_docs: int
    avgdl: float


def _term_bucket(term, buckets: int):
    return F.pmod(F.xxhash64(term), F.lit(buckets))


def bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> tuple[DataFrame, DataFrame, Bm25Stats]:
    """(postings, doc_lens, stats).

    postings: (term, bucket, doc_id, tf, df) — document frequency is
    attached at BUILD time by a count window over the term partition
    (one term-keyed shuffle paid once), so searches never
    re-aggregate it.
    doc_lens: (doc_id, dl).
    """
    from pyspark.sql import Window

    toks = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("term", id_col).agg(F.count("*").alias("tf"))
    # df rides a count window over tf (rows are unique per
    # (term, doc) so count(*) over the term partition IS the document
    # frequency) instead of a tf ⋈ groupBy(term) self-join: the join
    # form re-derives the whole explode→aggregate lineage on its df
    # branch (Catalyst rewrites the inner count to a distinct agg, so
    # the two exchanges can never be reused), tokenizing the corpus
    # twice per search. One lineage = one tokenization pass and one
    # fewer exchange (guide §2.4; measured interleaved A/B at sf0.1:
    # text_bm25_rank med 1.27 → 1.11 s, plan 3 scans → 2).
    postings = tf.select(
        "term",
        _term_bucket(F.col("term"), buckets).alias("bucket"),
        F.col(id_col),
        "tf",
        F.count("*").over(Window.partitionBy("term")).alias("df"),
    )
    # dl must count the SAME token stream the postings index (the
    # split regex yields empty strings at text edges — counting them
    # would inflate dl/avgdl relative to Σtf and skew normalization)
    nonempty = F.filter(tokens(text_col), lambda t: t != "")
    # Lazy localCheckpoint: the stats collect below materializes the
    # (id, dl) frame as a side effect, so the search-time
    # hits ⋈ doc_lens join reads stored metadata-sized blocks instead
    # of re-tokenizing the whole corpus a second time (guide §8 —
    # decide with small rows; measured interleaved A/B on
    # text_bm25_rank: no regression at sf0.1, one fewer full-corpus
    # tokenization pass per search).
    doc_lens = docs.select(
        F.col(id_col), F.size(nonempty).alias("dl")
    ).transform(cut_lineage)
    row = doc_lens.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    stats = Bm25Stats(int(row["n"]), float(row["avgdl"] or 0.0))
    return postings, doc_lens, stats


def _bm25_contrib(stats: Bm25Stats, k1: float, b: float):
    """Per-(term, doc) score contribution — the ONE place the Okapi
    formula lives; both the single-query and batch searches compose
    it so they can never drift apart."""
    idf = F.log(
        (F.lit(float(stats.n_docs)) - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1.0
    )
    tf = F.col("tf").cast("double")
    norm = tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(stats.avgdl or 1.0))
    return idf * tf * (k1 + 1.0) / norm


def bm25_search(
    postings: DataFrame,
    doc_lens: DataFrame,
    stats: Bm25Stats,
    query: str,
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    buckets: int = DEFAULT_BUCKETS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k (doc_id, score) for one query string.

    The query's distinct terms become a literal IN-filter on BOTH the
    bucket column (→ partition pruning on a saved index) and the term
    column (→ row pruning inside the touched buckets). Scoring is
    pure JVM arithmetic; the final top-k is orderBy+limit, which the
    planner executes as TakeOrderedAndProject."""
    import re as _re

    from ..functions.text import TOKEN_SPLIT_RE

    q_terms = sorted(
        {t for t in _re.split(TOKEN_SPLIT_RE, query.lower()) if t}
    )
    if not q_terms:
        raise ValueError("query has no terms after tokenization")
    q_buckets = _buckets_of(postings.sparkSession, q_terms, buckets)
    hits = postings.filter(
        F.col("bucket").isin(q_buckets) & F.col("term").isin(q_terms)
    )
    contrib = _bm25_contrib(stats, k1, b)
    return (
        hits.join(doc_lens, id_col)
        .select(F.col(id_col), contrib.alias("__c"))
        .groupBy(id_col)
        .agg(F.sum("__c").alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(topk)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    topk: int = 10,
    id_col: str = "doc_id",
    qid_col: str = "qid",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.): combine per-query
    rankings from heterogeneous retrievers (this module's BM25 and the
    vector lanes' ANN top-k being the canonical pair) into one list
    per query by ``score = Σ_r 1/(k + rank_r(doc))``.

    RRF is the standard hybrid combiner precisely because it needs NO
    score calibration — only ranks — so a BM25 score and a cosine
    similarity never have to share a scale. Inputs each carry
    (qid, doc_id, rank); a doc absent from a ranking simply
    contributes nothing (the Σ runs over the rankings that returned
    it). Pure DataFrame: union → one partial-agg shuffle on
    (qid, doc) → per-query row_number top-k. Returns
    (qid, doc_id, rrf_score, rank)."""
    from functools import reduce

    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(qid_col),
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))).alias("__rr"),
        )
        for r in rankings
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    w = Window.partitionBy(qid_col).orderBy(
        F.desc("rrf_score"), F.col(id_col)
    )
    return (
        unioned.groupBy(qid_col, id_col)
        .agg(F.sum("__rr").alias("rrf_score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def _buckets_of(spark: SparkSession, terms: list[str], buckets: int) -> list[int]:
    """Driver-side xxhash64 buckets of the query terms, computed
    through the SAME JVM expression used at index time (no Python
    reimplementation of xxhash64 to drift) — one tiny local job for
    the whole query."""
    rows = spark.createDataFrame(
        [(t,) for t in terms], "term string"
    ).select(_term_bucket(F.col("term"), buckets).alias("b")).collect()
    return sorted({r["b"] for r in rows})


def bm25_score_py(
    corpus: dict[int, list[str]],
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> dict[int, float]:
    """Pure-Python reference implementation (tests compare the Spark
    lane against it exactly, modulo float tolerance)."""
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / max(n, 1)
    df: dict[str, int] = {}
    for toks in corpus.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    scores: dict[int, float] = {}
    for doc, toks in corpus.items():
        s = 0.0
        for qt in set(query_terms):
            tf = toks.count(qt)
            if not tf or qt not in df:
                continue
            idf = math.log((n - df[qt] + 0.5) / (df[qt] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * len(toks) / avgdl)
            )
        if s > 0:
            scores[doc] = s
    return scores
