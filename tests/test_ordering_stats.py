"""Training order (operators/ordering.py): the epoch order key is
deterministic, seed-sensitive and stable under corpus growth."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.ordering import order_key


def training_order(df, seed):
    return df.orderBy(order_key(seed), F.col("doc_id"))


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
