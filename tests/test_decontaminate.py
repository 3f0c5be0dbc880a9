"""Benchmark decontamination (operators/decontaminate.py): planted
contamination is caught, clean docs survive, thresholds and the
broadcast-no-corpus-shuffle plan shape hold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.decontaminate import (
    benchmark_overlap,
    decontaminate,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "completely unrelated text about spark partitions and shuffle behavior here now"),
        (2, "what is the capital of france paris is the capital of france indeed"),
        (3, "another clean document discussing parquet row groups and column pruning strategies"),
    ]
    return spark.createDataFrame(base, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def bench(spark):
    # benchmark questions: one matches doc 0's phrasing, one doc 2's
    return spark.createDataFrame(
        [
            ("the quick brown fox jumps over the lazy dog near the river",),
            ("what is the capital of france paris is the capital",),
        ],
        "question string",
    )


def test_planted_contamination_is_flagged(corpus, bench):
    hits = {
        r.doc_id: r.n_hit_shingles
        for r in benchmark_overlap(
            corpus, bench, bench_text_col="question"
        ).collect()
    }
    assert set(hits) == {0, 2}
    assert all(n >= 1 for n in hits.values())


def test_decontaminate_drops_only_contaminated(corpus, bench):
    kept = sorted(
        r.doc_id
        for r in decontaminate(corpus, bench, bench_text_col="question").collect()
    )
    assert kept == [1, 3]


def test_min_hits_threshold(corpus, bench):
    # raising min_hits above any doc's hit count keeps everything
    kept = decontaminate(
        corpus, bench, bench_text_col="question", min_hits=10_000
    )
    assert kept.count() == 4
    with pytest.raises(ValueError, match="min_hits"):
        decontaminate(corpus, bench, min_hits=0)


def test_benchmark_side_broadcasts(corpus, bench):
    """The benchmark shingle set must broadcast — the corpus is never
    shuffled on text for the overlap join."""
    plan = (
        benchmark_overlap(corpus, bench, bench_text_col="question")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_overlap_on_documents_fixture(spark, sf_dir):
    """Self-check on real data: using a benchmark sampled FROM the
    corpus, every sampled doc flags itself (8-gram identity)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    sample = docs.filter(F.col("doc_id") < 5).select(
        F.col("text").alias("question")
    )
    n_long_enough = docs.filter(
        (F.col("doc_id") < 5) & (F.size(F.split("text", r"\s+")) >= 8)
    ).count()
    hits = benchmark_overlap(docs, sample, bench_text_col="question")
    flagged = {r.doc_id for r in hits.collect()}
    assert {d for d in flagged if d < 5} == set(range(5)) if n_long_enough == 5 else True
    kept = decontaminate(docs, sample, bench_text_col="question")
    assert kept.count() <= docs.count() - n_long_enough


# ---------------- semantic (embedding-cosine) pass ------------------

from spotify_etl_aws_spark.operators.decontaminate import (  # noqa: E402
    semantic_overlap,
)


def test_semantic_overlap_matches_numpy_bruteforce(spark, sf_dir):
    """Fixture embeddings as corpus, a 20-row slice as the bench set:
    the kernel's per-doc max cosine must equal the full numpy
    cross-product to 1e-9."""
    import numpy as np

    from spotify_etl_aws_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    bench = emb.orderBy("doc_id").limit(20)
    bench_ids = {r.doc_id for r in bench.select("doc_id").collect()}
    got = {
        r.doc_id: r.max_cosine
        for r in semantic_overlap(emb, bench).collect()
    }
    rows = sorted(
        (r.doc_id, np.asarray(r.embedding, dtype=np.float64))
        for r in emb.collect()
    )
    bm = np.stack([v for i, v in rows if i in bench_ids])
    bm = bm / np.linalg.norm(bm, axis=1, keepdims=True)
    for i, v in rows:
        n = np.linalg.norm(v)
        want = float((v / n @ bm.T).max()) if n > 0 else None
        assert got[i] == pytest.approx(want, abs=1e-9), f"doc {i}"


def test_semantic_corpus_side_is_map_side(spark, sf_dir):
    from spotify_etl_aws_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    bench = emb.limit(5)
    plan = (
        semantic_overlap(emb, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_semantic_bench_guards(spark):
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "doc_id long, embedding array<float>"
    )
    empty = spark.createDataFrame([], "bid long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        semantic_overlap(docs, empty)
    nulls = spark.createDataFrame(
        [(0, None)], "bid long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="non-null"):
        semantic_overlap(docs, nulls)
    with pytest.raises(ValueError, match="max_bench"):
        semantic_overlap(docs, docs.crossJoin(docs.select(F.col("doc_id").alias("b"))), max_bench=0)
