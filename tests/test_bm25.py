"""BM25 retrieval (operators/bm25.py): exact parity with a
pure-Python Okapi reference, bucket partition pruning on a landed
index (plan-pinned), top-k plan shape, and fixture sanity."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.functions.text import TOKEN_SPLIT_RE
from spotify_etl_aws_spark.operators.bm25 import (
    bm25_index,
    bm25_score_py,
    bm25_search,
)
from spotify_etl_aws_spark.sources.readers import load_table

CORPUS = {
    0: "the quick brown fox jumps over the lazy dog",
    1: "a quick brown cat sleeps on the warm mat",
    2: "foxes and dogs are common household animals",
    3: "the stock market fell sharply on quick trading",
    4: "slow loris moves quietly through the trees",
}


def _toks(s: str) -> list[str]:
    return [t for t in re.split(TOKEN_SPLIT_RE, s.lower()) if t]


def _spark_scores(spark, query: str, **kw) -> dict[int, float]:
    docs = spark.createDataFrame(
        sorted(CORPUS.items()), "doc_id bigint, text string"
    )
    postings, doc_lens, stats = bm25_index(docs)
    out = bm25_search(postings, doc_lens, stats, query, topk=10, **kw)
    return {r.doc_id: r.score for r in out.collect()}


def test_matches_python_reference_exactly(spark):
    ref_corpus = {i: _toks(t) for i, t in CORPUS.items()}
    for query in ("quick brown fox", "dog", "market trees", "the"):
        want = bm25_score_py(ref_corpus, _toks(query))
        got = _spark_scores(spark, query)
        assert set(got) == set(want), query
        for d in want:
            assert got[d] == pytest.approx(want[d], rel=1e-12), (query, d)


def test_ranking_sanity_and_topk(spark):
    got = bm25_search(
        *_index(spark), "quick brown fox", topk=2
    ).collect()
    assert len(got) == 2
    assert got[0].doc_id == 0  # all three terms
    assert got[0].score > got[1].score


def _index(spark):
    docs = spark.createDataFrame(
        sorted(CORPUS.items()), "doc_id bigint, text string"
    )
    return bm25_index(docs)


def test_empty_query_raises(spark):
    with pytest.raises(ValueError, match="no terms"):
        bm25_search(*_index(spark), "  \t ")


def test_saved_index_prunes_buckets_and_roundtrips(spark, tmp_path):
    docs = spark.createDataFrame(
        sorted(CORPUS.items()), "doc_id bigint, text string"
    )
    postings, doc_lens, stats = bm25_index(docs, buckets=16)
    path = str(tmp_path / "postings")
    postings.write.partitionBy("bucket").parquet(path)
    p2 = spark.read.parquet(path)
    out = bm25_search(p2, doc_lens, stats, "quick brown fox", buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the bucket IN-filter reached the scan as a partition filter
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:120]
    # and top-k is a TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan
    # results identical to the in-memory index
    want = {r.doc_id: r.score for r in
            bm25_search(postings, doc_lens, stats, "quick brown fox",
                        buckets=16).collect()}
    got = {r.doc_id: r.score for r in out.collect()}
    assert got.keys() == want.keys()
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_fixture_documents_retrieval(spark, sf_dir):
    """Index the documents fixture and check retrieval is non-vacuous:
    querying words drawn from a known doc ranks some doc > 0."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    postings, doc_lens, stats = bm25_index(docs)
    sample = docs.orderBy("doc_id").first()
    words = [t for t in _toks(sample.text)[:5] if len(t) > 3][:3]
    assume_query = " ".join(words) or "data"
    out = bm25_search(postings, doc_lens, stats, assume_query, topk=5).collect()
    assert out and all(r.score > 0 for r in out)
    assert stats.n_docs == docs.count()



def test_edge_whitespace_doc_lengths_match_reference(spark):
    """Review fix: dl must count the same (empty-filtered) token
    stream the postings index — edge whitespace must not inflate
    dl/avgdl relative to the Python reference."""
    corpus = {
        0: "  hello world  ",          # edge whitespace
        1: "hello there general",
        2: "   ",                       # all-whitespace: dl must be 0
        3: "world of spark",
    }
    docs = spark.createDataFrame(
        sorted(corpus.items()), "doc_id bigint, text string"
    )
    postings, doc_lens, stats = bm25_index(docs)
    dl = {r.doc_id: r.dl for r in doc_lens.collect()}
    assert dl == {0: 2, 1: 3, 2: 0, 3: 3}
    ref = {i: _toks(t) for i, t in corpus.items()}
    # _toks drops empties; bm25_score_py's avgdl must equal stats'
    want = bm25_score_py(ref, ["hello", "world"])
    out = bm25_search(postings, doc_lens, stats, "hello world", topk=10)
    got = {r.doc_id: r.score for r in out.collect()}
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_rrf_fusion_matches_python_reference(spark):
    """RRF over a BM25 ranking and a synthetic dense ranking matches
    the published formula exactly; docs present in only one ranking
    still score; ties break by doc id."""
    from spotify_etl_aws_spark.operators.bm25 import rrf_fuse

    postings, doc_lens, stats = _index(spark)
    sparse = spark.createDataFrame(
        [
            (qid, r.doc_id, rank)
            for qid, q in [(1, "quick brown fox"), (2, "dog")]
            for rank, r in enumerate(
                bm25_search(postings, doc_lens, stats, q, topk=5).collect(), 1
            )
        ],
        "qid int, doc_id bigint, rank int",
    )
    # a "dense" ranking that disagrees (e.g. cosine over embeddings):
    dense = spark.createDataFrame(
        [(1, 2, 1), (1, 0, 2), (2, 2, 1), (2, 4, 2)],
        "qid int, doc_id bigint, rank int",
    )
    fused = rrf_fuse([sparse, dense], k=60, topk=10)
    got = {(r.qid, r.doc_id): (r.rrf_score, r.rank) for r in fused.collect()}

    sp = {(r.qid, r.doc_id): r.rank for r in sparse.collect()}
    dn = {(1, 2): 1, (1, 0): 2, (2, 2): 1, (2, 4): 2}
    want: dict[tuple[int, int], float] = {}
    for key in set(sp) | set(dn):
        want[key] = sum(
            1.0 / (60 + r[key]) for r in (sp, dn) if key in r
        )
    assert set(got) == set(want)
    for key, score in want.items():
        assert got[key][0] == pytest.approx(score, rel=1e-12)
    # per-query ranks are dense from 1 and ordered by fused score
    for q in (1, 2):
        rows = sorted(
            ((d, s, rk) for (qq, d), (s, rk) in got.items() if qq == q),
            key=lambda x: x[2],
        )
        assert [rk for _, _, rk in rows] == list(range(1, len(rows) + 1))
        scores = [s for _, s, _ in rows]
        assert scores == sorted(scores, reverse=True)


def test_rrf_requires_rankings():
    from spotify_etl_aws_spark.operators.bm25 import rrf_fuse

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_duckdb_cross_engine_parity(spark, sf_dir, oracle_con):
    """Full-corpus cross-ENGINE check: the same Okapi BM25 (Lucene
    +1-idf form) computed independently by DuckDB SQL over the
    documents fixture must reproduce every (doc_id, score) the Spark
    index/search pair returns — the same evidentiary standard the 50
    oracle queries meet, for the retrieval lane."""
    query = "data quality filter"
    k1, b = 1.2, 0.75
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    postings, doc_lens, stats = bm25_index(docs)
    got = {
        r.doc_id: round(r.score, 9)
        for r in bm25_search(
            postings, doc_lens, stats, query, topk=20, k1=k1, b=b
        ).collect()
    }
    terms = ",".join(f"'{t}'" for t in sorted(set(query.split())))
    want = {
        int(r[0]): round(float(r[1]), 9)
        for r in oracle_con.execute(
            f"""
            WITH toks AS (
              SELECT doc_id, t.term
              FROM documents,
                   unnest(string_split_regex(lower(text), '\\s+'))
                     AS t(term)
              WHERE t.term <> ''
            ),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            consts AS (
              SELECT (SELECT count(*) FROM documents) AS n,
                     (SELECT avg(dl) FROM dl) AS avgdl
            ),
            tf AS (
              SELECT term, doc_id, count(*) AS tf FROM toks
              WHERE term IN ({terms}) GROUP BY 1, 2
            ),
            df AS (
              SELECT term, count(DISTINCT doc_id) AS df FROM toks
              WHERE term IN ({terms}) GROUP BY 1
            )
            SELECT tf.doc_id,
                   sum(
                     ln((consts.n - df.df + 0.5) / (df.df + 0.5) + 1)
                     * tf.tf * ({k1} + 1)
                     / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / consts.avgdl))
                   ) AS score
            FROM tf
            JOIN df USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN consts
            GROUP BY tf.doc_id
            ORDER BY score DESC, tf.doc_id
            LIMIT 20
            """
        ).fetchall()
    }
    assert got == want
