"""Hash-split operator (operators/splits.py): determinism, stability
under corpus growth, weight fidelity, and the no-shuffle plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_etl_aws_spark.operators.splits import assign_split


def test_split_deterministic_and_exhaustive(spark):
    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in assign_split(df, w).collect()}
    b = {r.doc_id: r.split for r in assign_split(df, w).collect()}
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}

    # weight fidelity within sampling tolerance
    n = len(a)
    for name, frac in w.items():
        got = sum(1 for v in a.values() if v == name) / n
        assert abs(got - frac) < 0.01, (name, got)


def test_split_stable_under_corpus_growth(spark):
    """Adding documents never moves an existing one between splits —
    the property randomSplit cannot give."""
    w = {"train": 0.9, "test": 0.1}
    small = spark.range(1_000).withColumnRenamed("id", "doc_id")
    big = spark.range(50_000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in assign_split(small, w).collect()}
    b = {r.doc_id: r.split for r in assign_split(big, w).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_salt_redeals_assignments(spark):
    df = spark.range(5_000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.5, "test": 0.5}
    a = {r.doc_id: r.split for r in assign_split(df, w, salt="v1").collect()}
    b = {r.doc_id: r.split for r in assign_split(df, w, salt="v2").collect()}
    moved = sum(1 for k in a if a[k] != b[k])
    assert moved > 1_000  # a re-deal, not a perturbation


def test_split_is_map_side_only(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        assign_split(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure projection, no shuffle


def test_split_rejects_bad_weights(spark):
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum to 1"):
        assign_split(df, {"train": 0.5, "test": 0.1})


def test_leakage_audit_and_cluster_safe_lanes(spark, sf_dir):
    """The declared hygiene pair: the id-hash audit finds real
    straddling near-dup pairs at fixture scale, and the cluster-safe
    assignment makes the same audit empty by construction (every
    near-dup pair shares a cluster_rep, hence a split)."""
    from spotify_etl_aws_spark.queries.selection import (
        split_cluster_safe,
        split_leakage_audit,
    )

    audit = split_leakage_audit(spark, sf_dir).collect()
    assert audit  # verified near-dup pairs exist
    assert any(r.leaked for r in audit)  # id-hash splits DO leak here
    for r in audit:
        assert r.leaked == (r.split_a != r.split_b)

    safe = {r.doc_id: r.split for r in split_cluster_safe(spark, sf_dir).collect()}
    for r in audit:
        assert safe[r.doc_a] == safe[r.doc_b]  # cluster-safe: no straddle
