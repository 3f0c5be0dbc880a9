"""Training order (operators/ordering.py): determinism, growth
stability, shard write order and round-robin interleave balance."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.ordering import (
    interleave_domains,
    training_order,
    write_training_shards,
)


def test_training_order_deterministic_and_seed_sensitive(spark):
    df = spark.range(200).select(F.col("id").alias("doc_id"))
    o1 = [r.doc_id for r in training_order(df, seed=1).collect()]
    o2 = [r.doc_id for r in training_order(df.repartition(7), seed=1).collect()]
    o3 = [r.doc_id for r in training_order(df, seed=2).collect()]
    assert o1 == o2                      # deterministic, layout-proof
    assert o1 != o3                      # epochs differ
    assert sorted(o1) == list(range(200))  # a permutation
    # no accidental identity / sortedness
    assert o1 != list(range(200))


def test_growth_preserves_relative_order(spark):
    """Appending documents never swaps existing pairs: hash keys are
    per-id, so the old corpus's relative order is stable under
    growth."""
    small = spark.range(100).select(F.col("id").alias("doc_id"))
    grown = spark.range(150).select(F.col("id").alias("doc_id"))
    o_small = [r.doc_id for r in training_order(small, seed=7).collect()]
    o_grown = [r.doc_id for r in training_order(grown, seed=7).collect()]
    filtered = [d for d in o_grown if d < 100]
    assert filtered == o_small


def test_shard_write_streams_in_order(spark, tmp_path):
    df = spark.range(500).select(F.col("id").alias("doc_id"))
    path = str(tmp_path / "epoch0")
    write_training_shards(df, path, seed=3, num_shards=8)
    back = spark.read.parquet(path)
    assert back.count() == 500
    assert set(back.columns) == {"doc_id"}  # key never leaks
    # reading shards in filename order replays the global epoch order
    import glob

    want = [r.doc_id for r in training_order(df, seed=3).collect()]
    got = []
    import pyarrow.parquet as pq

    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        got.extend(pq.read_table(f).column("doc_id").to_pylist())
    assert got == want


def test_interleave_domains_round_robin(spark):
    # 3 domains with 30/20/10 docs
    rows = (
        [(i, "a") for i in range(30)]
        + [(100 + i, "b") for i in range(20)]
        + [(200 + i, "c") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = [r.domain for r in interleave_domains(df, "domain", seed=5).collect()]
    assert len(out) == 60
    # while every domain has rows left (first 30 rows = 10 full
    # rounds), each round of 3 holds one of each domain
    for i in range(0, 30, 3):
        assert sorted(out[i : i + 3]) == ["a", "b", "c"]
    # once c is exhausted, rounds alternate a/b until b runs out
    for i in range(30, 50, 2):
        assert sorted(out[i : i + 2]) == ["a", "b"]
    assert out[50:] == ["a"] * 10
    # deterministic
    out2 = [r.domain for r in interleave_domains(df.repartition(5), "domain", seed=5).collect()]
    assert out == out2

